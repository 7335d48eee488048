package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Sessions
import graft.ig.{Engagement, Extraction, LocationHashtags, Partnerships, ProfileAnalysis, SynthIg}
import graft.sources.Tables

/** One op as a client saw it. Times are epoch milliseconds. */
final case class OpRecord(id: String, client: Int, kind: String, start: Double,
                          buildEnd: Double, end: Double, parts: Map[String, Double],
                          error: Option[String])

/** The benchmark's JVM side: set-up, the output-check pass, the timed
  * closed-loop window and, when tracing, the traced passes. It records raw
  * measurements into `<out>/result.json` (and spans into
  * `<out>/spans.jsonl`); `run.py` turns them into metrics.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *        <outDir> <cores>
  * The index root comes from `SPARK_GRAFT_INDEX_ROOT`, which the caller
  * points into `<outDir>` so every run builds its own indexes. */
object Main {
  val tables: Seq[(SparkSession, String) => DataFrame] = Seq(
    Tables.region, Tables.nation, Tables.customer, Tables.supplier, Tables.part,
    Tables.orders, Tables.lineitem, Tables.events, Tables.documents, Tables.embeddings)

  /** Set-ups per run; `setup_s` is their median. */
  val SetupRuns = 3

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def secs(a: Double, b: Double): Double = (b - a) / 1000.0

  def main(args: Array[String]): Unit = {
    val Array(wName, seedS, secondsS, traceS, data, out, cores) = args
    val w = Workloads.byName(wName)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val indexRoot = new File(sys.env("SPARK_GRAFT_INDEX_ROOT"))
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cores.toInt, "clients" -> w.clients,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "data" -> data, "index_root" -> indexRoot.getPath,
      "process_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    val heap = new HeapWatch

    // ---- set-up, repeated: a fresh session and the first touch of every
    // table; the first one also pays JVM start ----
    var spark: SparkSession = null
    result("setup") = (1 to SetupRuns).map { rep =>
      val t0 = if (rep == 1) result("process_start_ms").asInstanceOf[Double] else Tracer.nowMs
      if (spark != null) spark.stop()
      val s0 = Tracer.nowMs
      spark = Sessions.local(cores, "graftbench")
      if (traced) spark.sparkContext.addSparkListener(new BenchListener)
      val s1 = Tracer.nowMs
      tables.foreach(t => noop(t(spark, data)))
      val s2 = Tracer.nowMs
      Map("total_s" -> secs(t0, s2), "session_s" -> secs(s0, s1), "first_scan_s" -> secs(s1, s2))
    }

    // ---- first run of every distinct op, outside the timed window: it
    // builds every index an op persists (into this run's empty index root),
    // warms the JIT, and writes the output the run checks ----
    val checkDir = s"$out/check"
    deleteTree(indexRoot)
    val pending = new java.util.concurrent.ConcurrentLinkedQueue[OpKind](w.ops.asJava)
    result("check") = parallel(math.min(2, w.ops.size)) { _ =>
      Iterator.continually(pending.poll()).takeWhile(_ != null).map { op =>
        val t0 = Tracer.nowMs
        val err = attempt(op.dump(op.build(spark, data), checkDir))
        Map("name" -> op.name, "seconds" -> secs(t0, Tracer.nowMs), "error" -> err.orNull)
      }.toList
    }.flatten
    result("index_builds") = indexDirs(indexRoot).size
    result("index_bytes") = treeBytes(indexRoot)

    // ---- the timed window(s) ----
    val runner = new Runner(spark, w, data, s"$out/scratch", seed)
    result("first_timed_op_ms") = Tracer.nowMs
    val phases = mutable.LinkedHashMap[String, Any]()
    phases("window") = runner.pass("window", w.clients, seconds, indexRoot, heap)
    if (traced) {
      Tracer.enabled = true
      phases("traced") = runner.pass("traced", w.clients, seconds, indexRoot, heap)
      if (w.name != "report_export") {
        val alt = if (w.clients == 1) 2 else 1
        phases(s"traced_clients$alt") = runner.pass(s"traced$alt", alt, 0.0, indexRoot, heap, 1)
      } else {
        result("ig_blocks") = igBlocks(spark, data)
      }
      org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)
      Tracer.resolve()
      result("op_stats") = runner.allOps.map { r =>
        val s = Tracer.statsFor(r.id)
        r.id -> Map("executions" -> s.executions, "jobs" -> s.jobs,
          "checkpoint_jobs" -> s.checkpointJobs, "stages" -> s.stages, "tasks" -> s.tasks,
          "failed_tasks" -> s.failedTasks, "busy_ms" -> s.busyMs,
          "shuffle_write_bytes" -> s.shuffleWriteBytes, "shuffle_read_bytes" -> s.shuffleReadBytes,
          "spill_bytes" -> s.spillBytes, "peak_task_mem" -> s.peakTaskMem,
          "analysis_ms" -> s.analysisMs, "optimization_ms" -> s.optimizationMs,
          "planning_ms" -> s.planningMs, "exchanges" -> s.exchanges)
      }.toMap
      val spanLines = Tracer.allSpans.map { s =>
        Json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end))
      }
      Files.writeString(Paths.get(s"$out/spans.jsonl"), spanLines.mkString("", "\n", "\n"))
    }
    result("phases") = phases
    Files.writeString(Paths.get(s"$out/result.json"), Json(result) + "\n")
    heap.close()
    spark.stop()
  }

  /** Each input of `Report.assemble` forced alone over the synthetic
    * creators, then the assembled report itself. */
  private def igBlocks(spark: SparkSession, data: String): Map[String, Any] = {
    val clock = SynthIg.synthClock
    val profiles = SynthIg.syntheticProfiles(spark, data)
    val posts = SynthIg.syntheticPosts(spark, data)
    val blocks: Seq[(String, () => DataFrame)] = Seq(
      "enrich" -> (() => Extraction.enrich(profiles, posts)),
      "engagement_metrics" -> (() => Engagement.metrics(posts, profiles, clock)),
      "top_posts" -> (() => Engagement.topPosts(posts, profiles, clock)),
      "partnership" -> (() => Partnerships.partnershipData(posts, profiles, clock)),
      "collaborations" -> (() => Partnerships.collaborations(posts, clock)),
      "fake_followers" -> (() => ProfileAnalysis.fakeFollowers(posts, profiles)),
      "personality" -> (() => ProfileAnalysis.personality(profiles,
        Engagement.metrics(posts, profiles, clock))),
      "niche" -> (() => ProfileAnalysis.niche(profiles)),
      "location" -> (() => LocationHashtags.locationAnalysis(posts, clock)),
      "hashtags" -> (() => LocationHashtags.hashtagsMentions(posts, clock)),
      "assemble" -> (() => ExportOp.build(spark, data)))
    blocks.map { case (name, df) =>
      val t0 = Tracer.nowMs
      val err = attempt(noop(df()))
      name -> Map("seconds" -> secs(t0, Tracer.nowMs), "error" -> err.orNull)
    }.toMap
  }

  /** Runs `body` and returns the failure, if any, as one line. */
  def attempt(body: => Unit): Option[String] =
    try { body; None }
    catch { case e: Throwable =>
      val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
      Some(s"${e.getClass.getSimpleName}: ${msg.take(400)}")
    }

  /** Runs `n` client threads and waits for all of them. */
  def parallel[T](n: Int)(client: Int => T): Seq[T] = {
    val results = new Array[Any](n)
    val threads = (0 until n).map { i =>
      val t = new Thread(() => results(i) = client(i), s"graftbench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    results.toSeq.map(_.asInstanceOf[T])
  }

  /** Index tables under `root` with their modification times: a table that
    * is new, or rewritten in place, shows up as a changed entry. */
  def indexDirs(root: File): Set[(String, Long)] =
    Option(root.listFiles()).map(_.filter(_.isDirectory).map(d => (d.getName, d.lastModified)).toSet)
      .getOrElse(Set.empty)

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Closed-loop clients over one shared session. */
final class Runner(spark: SparkSession, w: Workload, data: String, scratch: String, seed: Long) {
  private val seq = new AtomicInteger(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[OpRecord]()
  def allOps: Seq[OpRecord] = done.asScala.toSeq

  /** Each client runs whole passes over the ops, in an order drawn from
    * the seed, until `seconds` have gone by and it has made `minPasses`. */
  def pass(phase: String, clients: Int, seconds: Double, indexRoot: java.io.File,
           heap: HeapWatch, minPasses: Int = w.minPasses): Map[String, Any] = {
    val before = Main.indexDirs(indexRoot)
    heap.reset()
    val t0 = Tracer.nowMs
    val recs = Main.parallel(clients) { c =>
      val mine = mutable.ArrayBuffer[OpRecord]()
      var p = 0
      while (p < minPasses || Tracer.nowMs - t0 < seconds * 1000) {
        val rnd = new scala.util.Random(seed * 1000003L + c * 7919L + p)
        rnd.shuffle(w.ops).foreach(op => mine += run(phase, c, op))
        p += 1
      }
      mine.toSeq
    }.flatten
    val t1 = Tracer.nowMs
    Map("clients" -> clients, "start_ms" -> t0, "end_ms" -> t1,
      "traced" -> Tracer.enabled,
      "index_builds" -> (Main.indexDirs(indexRoot) -- before).size,
      "peak_heap_mb" -> heap.peakMb,
      "ops" -> recs.map { r =>
        Map("id" -> r.id, "client" -> r.client, "kind" -> r.kind, "start_ms" -> r.start,
          "build_end_ms" -> r.buildEnd, "end_ms" -> r.end, "parts" -> r.parts,
          "error" -> r.error.orNull)
      })
  }

  private def run(phase: String, client: Int, op: OpKind): OpRecord = {
    val id = s"$phase-c$client-${seq.incrementAndGet()}-${op.name}"
    val sc = spark.sparkContext
    Tracer.beginOp(id)
    sc.setJobDescription(id)
    sc.addJobTag(Tracer.TagPrefix + id)
    val t0 = Tracer.nowMs
    var t1 = Double.NaN
    var parts = Map.empty[String, Double]
    val err = Main.attempt {
      val df = op.build(spark, data)
      t1 = Tracer.nowMs
      parts = op.execute(df, s"$scratch/c$client")
    }
    val t2 = Tracer.nowMs
    if (t1.isNaN) t1 = t2 // failed while building
    sc.removeJobTag(Tracer.TagPrefix + id)
    sc.setJobDescription(null)
    val root = Tracer.span(0L, id, "op", t0, t2)
    Tracer.span(root.id, id, "op.build", t0, t1)
    Tracer.span(root.id, id, "op.execute", t1, t2)
    val r = OpRecord(id, client, op.name, t0, t1, t2, parts, err)
    done.add(r)
    r
  }
}

/** JVM heap after each collection, from the GC notifications the JVM
  * emits; the peak is kept since the last reset. */
final class HeapWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener: NotificationListener = (n: Notification, _: Any) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = peak / 1048576.0
  def close(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(listener) catch { case _: Exception => () })
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
