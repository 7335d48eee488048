package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.ig.{CsvFlatten, Report, SynthIg}

/** One kind of operation a client can issue. `build` returns the
  * DataFrame (graft's eager actions run here); `execute` forces it fully
  * and returns figures of its sub-steps, if it has any; `dump` writes the
  * output the run checks, outside the timed window. */
trait OpKind {
  def name: String
  def build(spark: SparkSession, data: String): DataFrame
  def execute(df: DataFrame, scratch: String): Map[String, Double]
  def dump(df: DataFrame, dir: String): Unit
}

/** A registry query, forced through the `noop` sink so every column is
  * computed and nothing is written. */
final case class QueryOp(name: String) extends OpKind {
  def build(spark: SparkSession, data: String): DataFrame =
    SparkEntry.queries(name)(spark, data)
  def execute(df: DataFrame, scratch: String): Map[String, Double] = {
    df.write.format("noop").mode("overwrite").save()
    Map.empty
  }
  def dump(df: DataFrame, dir: String): Unit = {
    df.write.mode("overwrite").parquet(s"$dir/$name")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/$name.sql"), SparkEntry.oracleSql(name))
  }
}

/** The analyze→export path: the full report over the synthetic creators,
  * written as analyzed JSON lines and as the flat CSV. */
case object ExportOp extends OpKind {
  val name = "export"
  def build(spark: SparkSession, data: String): DataFrame =
    Report.assemble(SynthIg.syntheticProfiles(spark, data),
      SynthIg.syntheticPosts(spark, data), SynthIg.synthClock)
  def execute(df: DataFrame, scratch: String): Map[String, Double] = {
    val t0 = System.nanoTime()
    Report.writeAnalyzedJsonl(df, s"$scratch/jsonl", SynthIg.synthClock)
    val t1 = System.nanoTime()
    CsvFlatten.writeCsv(CsvFlatten.flatten(df), s"$scratch/csv")
    val t2 = System.nanoTime()
    Map("jsonl_s" -> (t1 - t0) / 1e9, "csv_s" -> (t2 - t1) / 1e9,
      "mb_written" -> graftbench.Main.treeBytes(new java.io.File(scratch)) / 1048576.0)
  }
  def dump(df: DataFrame, dir: String): Unit = execute(df, s"$dir/export")
}

/** @param clients   closed-loop client threads sharing one session
  * @param ops       one pass: every op once, in a per-client seeded order
  * @param minPasses passes each client makes at least; short ops need
  *                  several for a steady figure */
final case class Workload(name: String, clients: Int, ops: Seq[OpKind], minPasses: Int)

object Workloads {
  /** Every twelfth of the 148 registry queries whose round-14 minimum was
    * under 0.5 s at sf0.1 (in name order). */
  val adhocQueries: Seq[String] = Seq(
    "agg_ab_significance", "agg_equiwidth_hist", "agg_topk_typed",
    "mm_frame_dedup", "rel_editdist_join", "rel_range_join_banded",
    "rel_zorder_layout", "sim_lsh_neardup6", "ta_corpus_pipeline",
    "ta_stratified_sample", "txt_pipe_join_topk", "win_global_sort_limit",
    "win_sliding_distinct")

  /** Two graph loops (on the shared shaped-edge machinery, inside the
    * JVM-wide `LoopSessions.locked`), the NN-descent loop, and the
    * index-backed LSH dedup pipeline. */
  val loopQueries: Seq[String] = Seq(
    "rel_connected_components", "rel_label_propagation",
    "sim_nndescent_topk", "dd_dedup_pipeline")

  val all: Seq[Workload] = Seq(
    Workload("adhoc_queries", 1, adhocQueries.map(QueryOp), 3),
    Workload("loops_concurrent", 2, loopQueries.map(QueryOp), 1),
    Workload("report_export", 1, Seq(QueryOp("ig_report_synth"), ExportOp), 1))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$name'"))
}
