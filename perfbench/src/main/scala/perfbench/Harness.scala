package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, sf: Double, cores: Int, perturb: Boolean, root: String,
    out: String, commit: String)

/** One call of a workload's closed loop: `run` does the timed work and
  * returns the untimed check of its answer. */
final case class Op(kind: String, run: () => (() => Boolean))

final case class Check(name: String, ok: Boolean, detail: String)

/** A workload builds its fixtures, then issues one call at a time. */
trait Workload {
  /** Builds the fixture the calls run on. */
  def setup(): Unit
  /** True when the last call ended a cycle of the workload's schedule. */
  def cycleDone: Boolean
  def next(): Op
  /** The op kinds reported as `op_p50_ms` and `read_p50_ms`; `primary`
    * is also the graft write call behind `graftlog.commit_*`. */
  def primary: String
  def read: String
  /** Told the time of every timed call, in call order. */
  def record(kind: String, ms: Double): Unit = ()
  /** Work done per second of timed calls (commits or documents). */
  def throughput: Double
  /** Checks of the state the whole run left behind. */
  def finalChecks(): Seq[Check]
  def storedBytesPerInputByte(): Double
  /** The workload's own metrics, named as in `perfbench/METRICS.md`. */
  def summary(lat: Map[String, Seq[Double]]): Seq[(String, Double, String)]
  def layerExtras(): Map[String, Double]
  def teardown(): Unit
}

/** Per-call record of the traced run. */
final case class OpRec(kind: String, startMs: Long, endMs: Long, ms: Double,
    c: Map[String, Long], jobs: Seq[(Long, Long)]) {
  def n(k: String): Double = c.getOrElse(k, 0L).toDouble
  def fs(op: String): Double =
    Seq("log", "data", "sidecar").map(cl => n(s"fs.$op.$cl")).sum
  def fsAll: Double = c.collect { case (k, v) if k.startsWith("fs.") => v }
    .sum.toDouble
}

/** What one timed loop saw. `recs`, `other` and `jobs` are filled only
  * when traced; `other` holds counts made between calls (preparing a
  * call, checking its answer). */
final class Loop {
  val lat = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val order = ArrayBuffer.empty[Double]
  val recs = ArrayBuffer.empty[OpRec]
  var other = Map.empty[String, Long]
  val jobs = ArrayBuffer.empty[(Long, Long)]
  var attempted, failed = 0L
  var wallMs, heapMb = 0.0
  var startMs, endMs, gc = 0L
}

object Main {
  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", m.getOrElse("sf", "0.1").toDouble,
      get("cores").toInt, m.getOrElse("perturb", "0") == "1", get("root"),
      get("out"), m.getOrElse("commit", "unknown"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.root).mkdirs()
    val out = new Harness(a).run()
    val w = new java.io.PrintWriter(a.out, "UTF-8")
    try w.write(out) finally w.close()
    // Spark leaves non-daemon threads behind; the result is on disk
    System.exit(0)
  }
}

final class Harness(a: Args) {
  private val master = s"local[${a.cores}]"
  private val probes = new Probes

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  private def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def newWorkload(spark: SparkSession, dir: String): Workload =
    a.workload match {
      case "commit_log" => new CommitLog(spark, dir, a)
      case "curation_ingest" => new CurationIngest(spark, dir, a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

  private def buildSession(dir: String, traced: Boolean): SparkSession = {
    var b = graft.sessions.Sessions.builder(appName = "perfbench",
        master = master, shufflePartitions = a.cores)
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
    if (traced) b = b
      .config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (traced) {
      s.sparkContext.addSparkListener(probes)
      s.listenerManager.register(probes)
      s.streams.addListener(probes.streams)
    }
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def drain(s: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(s.sparkContext)

  /** The closed loop: one call at a time until `seconds` have passed and
    * at least `cycles` cycles have ended. */
  private def loop(spark: SparkSession, w: Workload, seconds: Double,
      traced: Boolean, cycles: Int = 0): Loop = {
    val l = new Loop
    if (traced) { drain(spark); Counters.take() }
    val gc0 = gcMs
    l.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var done = 0
    // counts made outside the calls: preparing a call, checking its answer
    def untimed(): Unit = if (traced) {
      drain(spark); val (c, j) = Counters.take()
      l.other = (l.other.keySet ++ c.keySet).map(k =>
        k -> (l.other.getOrElse(k, 0L) + c.getOrElse(k, 0L))).toMap
      l.jobs ++= j
    }
    while ((System.nanoTime() - t0) / 1e9 < seconds || done < cycles) {
      val op = w.next()
      untimed()
      val ms0 = System.currentTimeMillis(); val s0 = System.nanoTime()
      val verify = try Spans(s"op.${op.kind}")(op.run()) catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${op.kind} failed: $e"); null
      }
      val ms = (System.nanoTime() - s0) / 1e6
      val ms1 = System.currentTimeMillis()
      l.attempted += 1
      l.lat.getOrElseUpdate(op.kind, ArrayBuffer.empty) += ms
      l.order += ms
      w.record(op.kind, ms)
      if (w.cycleDone) {
        // used heap after a GC at the end of the first cycle: a point
        // every run reaches after the same calls
        if (done == 0) {
          System.gc(); System.gc()
          l.heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
            .getUsed / 1048576.0
        }
        done += 1
      }
      if (traced) {
        drain(spark); val (c, j) = Counters.take()
        l.recs += OpRec(op.kind, ms0, ms1, ms, c, j); l.jobs ++= j
      }
      val ok = verify != null && (try verify() catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${op.kind} check failed: $e")
          false
      })
      if (!ok) l.failed += 1
      untimed()
    }
    l.wallMs = (System.nanoTime() - t0) / 1e6
    l.endMs = System.currentTimeMillis()
    l.gc = gcMs - gc0
    l
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  def run(): String = {
    val load0 = loadAvg
    val setupS, sessionS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var w: Workload = null
    var warm, base: Loop = null
    def setupRep(i: Int, traced: Boolean): Unit = {
      if (w != null) w.teardown()
      if (spark != null) stopSession(spark)
      deleteTree(new File(s"${a.root}/rep${i - 1}"))
      val dir = s"${a.root}/rep$i"
      Spans.on = traced
      Counters.on = traced
      val t0 = System.nanoTime()
      Spans("setup") {
        val s0 = System.nanoTime()
        spark = Spans("setup.session")(buildSession(dir, traced))
        sessionS += (System.nanoTime() - s0) / 1e9
        w = newWorkload(spark, dir)
        Spans("setup.fixture")(w.setup())
        // one whole cycle of calls: class loading, JIT and first planning
        // belong to set-up, not to latencies
        if (i == 1) warm = loop(spark, w, 0, traced = false, cycles = 1)
      }
      setupS += (System.nanoTime() - t0) / 1e9
    }
    // The first set-up also warms the JVM with one cycle of calls. Every
    // loop ends at least one cycle, which fixes the points where storage
    // and heap are read.
    // Untraced: three set-ups, the loop on the last. Traced: the loop on
    // the second, traced; then an untraced set-up and loop of half the
    // length over the same seeded calls. That baseline runs on a warmer
    // JVM, so the overhead it gives errs high.
    setupRep(1, traced = false)
    setupRep(2, traced = a.trace)
    if (!a.trace) setupRep(3, traced = false)
    val l = Spans("timed")(loop(spark, w, a.seconds, a.trace, cycles = 1))
    val checks = try w.finalChecks() catch {
      case e: Throwable => e.printStackTrace()
        Seq(Check("final_checks", ok = false, e.toString))
    }
    val lat = l.lat.map { case (k, v) => k -> v.toSeq }.toMap
    val e2e = Seq(
      ("setup_s", Stats.median(setupS.toSeq), "s"),
      ("op_p50_ms", Stats.median(lat.getOrElse(w.primary, Nil)), "ms"),
      ("read_p50_ms", Stats.median(lat.getOrElse(w.read, Nil)), "ms"),
      ("throughput_per_s", w.throughput, "1/s"),
      ("live_heap_mb", l.heapMb, "MB"),
      ("stored_bytes_per_input_byte", w.storedBytesPerInputByte(), "ratio"))
    val summary = w.summary(lat)
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else {
        val (tracedW, extras) = (w, w.layerExtras())
        setupRep(3, traced = false)
        base = loop(spark, w, a.seconds / 2, traced = false, cycles = 1)
        Layers(tracedW, l, base) ++ extras
      }
    val spansJson = Spans.toJson
    w.teardown(); stopSession(spark)
    deleteTree(new File(a.root))
    val loops = Seq(warm, l) ++ Option(base)
    val attempted = loops.map(_.attempted).sum + checks.size
    val failed = loops.map(_.failed).sum + checks.count(!_.ok)
    val ctx = Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> Json.num(a.seconds), "trace" -> (if (a.trace) "1" else "0"),
      "sf" -> Json.num(a.sf), "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "spark_master" -> Json.str(master),
      "loadavg_start" -> Json.num(load0), "loadavg_end" -> Json.num(loadAvg),
      "driver_heap_max_mb" -> Json.num(
        Runtime.getRuntime.maxMemory / 1048576.0),
      "git_commit" -> Json.str(a.commit),
      "setup_reps_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "session_reps_s" -> sessionS.map(Json.num).mkString("[", ",", "]"),
      "timed_wall_ms" -> Json.num(l.wallMs),
      "latencies_ms" -> lat.map { case (k, v) =>
        s"${Json.str(k)}:${v.map(Json.num).mkString("[", ",", "]")}" }
        .mkString("{", ",", "}"),
      "tail_rank_pct" -> Json.num(
        Stats.tailRank(lat.getOrElse(w.primary, Nil).size)))
    def metrics(ms: Seq[(String, Double, String)]) = ms.map { case (k, v, u) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,
       |"checks":${checks.map(c => s"""{"name":${Json.str(c.name)},"ok":${c.ok},"detail":${Json.str(c.detail)}}""").mkString("[", ",", "]")},
       |"context":${ctx.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")},
       |"end_to_end":${metrics(e2e)},
       |"summary":${metrics(summary)},
       |"per_layer":${metrics(layers.toSeq.sortBy(_._1).map { case (k, v) => (k, v, Layers.unit(k)) })},
       |"spans":$spansJson}
       |""".stripMargin
  }
}
