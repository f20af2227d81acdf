package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, count_if, lit}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.NearDupState
import graft.sources.GraftLog

/** curation_ingest: the LLM-curation path. A near-dup state is seeded
  * from a corpus, then waves of documents land as files and an
  * `AvailableNow` stream drains each through `foreachBatch` into
  * `NearDupState.probeAndAdvance`, verdicts first. Each wave plants its
  * own share of exact and perturbed twins of seed documents. After each
  * wave a reviewer reads its verdicts three ways, three times over, and
  * the wave is then re-delivered out of band, which must move neither
  * table.
  *
  * Documents follow the sf0.1 `documents` test table (5,000 rows) column
  * by column: the seed corpus is a quarter of it and each wave an eighth
  * (see [[CurationIngest.Gen]]). */
final class CurationIngest(spark: SparkSession, dir: String, a: Args)
    extends Workload {
  private val scale = a.sf / 0.1
  private val seedDocs = math.max((1250 * scale).toInt, 40)
  private val waveDocs = math.max((625 * scale).toInt, 20)
  private val rng = new Random(a.seed)
  private val gen = new CurationIngest.Gen(rng)
  private val (in, state, verd, ckpt) =
    (s"$dir/lake/landing", s"$dir/lake/bands", s"$dir/lake/verdicts",
      s"$dir/stream_ckpt")
  private val corpusCopy = s"$dir/seed_corpus"
  private val appId = "perfbench-curation"
  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  /** Text and language of every seed document. */
  private val corpus = ArrayBuffer.empty[(String, String)]
  /** Per drained wave: batch id, documents, planted exact twins, frame. */
  private val landed =
    ArrayBuffer.empty[(Long, Seq[Long], Set[Long], DataFrame)]
  private var nextId = 0L
  private var nextBatch = 0L
  private var waves = 0
  private var doneDocs, doneMs = 0.0
  private var pending: List[() => Op] = Nil

  def primary = "wave"
  def read = "read"
  def throughput: Double = if (doneMs > 0) doneDocs / (doneMs / 1e3) else 0.0

  def cycleDone: Boolean = pending.isEmpty

  override def record(kind: String, ms: Double): Unit =
    if (kind == "wave") {
      doneDocs += landed.last._2.size; doneMs += ms
      if (waves == 1) storedAt =
        (Util.dirBytes(state) + Util.dirBytes(verd)).toDouble /
          (Util.dirBytes(corpusCopy) + Util.dirBytes(in))
    }
  /** Storage after the first wave, a point every run reaches after the
    * same calls: state and verdict tables against every document they
    * hold, written once as plain parquet. */
  private var storedAt = 0.0

  /** Document rows: id, text and language. */
  private type Doc = (Long, String, String)
  private def df(rows: Seq[Doc]): DataFrame =
    spark.createDataFrame(rows.map { case (i, t, l) =>
      Row(i, t, l, s"src${i % 20}", t.length.toLong) }.asJava, schema)
  private def doc(t: String, lang: String): Doc = { nextId += 1; (nextId, t, lang) }

  def setup(): Unit = {
    val seed = Seq.fill(seedDocs) {
      val (t, l) = (gen.text(), gen.lang()); corpus += ((t, l)); doc(t, l)
    }
    df(seed).write.parquet(corpusCopy)
    Spans("neardup.init")(NearDupState.init(spark, df(seed), state))
  }

  /** Shares of exact and perturbed twins in a wave, in a seeded order.
    * Twins are always 35 % of a wave, so every wave adds as many new
    * documents to the state and runs with other seeds do the same work. */
  private val twinShares = Iterator.continually(rng.shuffle(Seq(
    (0.05, 0.30), (0.30, 0.05), (0.10, 0.25), (0.25, 0.10), (0.15, 0.20),
    (0.20, 0.15)))).flatten

  /** Exact and perturbed twins of seed documents, in the wave's shares,
    * and new documents. */
  private def waveRows(): (Seq[Doc], Set[Long]) = {
    val (exactShare, pertShare) = twinShares.next()
    val exact = Seq.fill((waveDocs * exactShare).toInt) {
      val (t, l) = corpus(rng.nextInt(corpus.size)); doc(t, l)
    }
    val perturbed = Seq.fill((waveDocs * pertShare).toInt) {
      val (t, l) = corpus(rng.nextInt(corpus.size))
      doc(gen.perturb(t), l)
    }
    val novel = Seq.fill(waveDocs - exact.size - perturbed.size)(
      doc(gen.text(), gen.lang()))
    (rng.shuffle(novel ++ exact ++ perturbed), exact.map(_._1).toSet)
  }

  private def drain(): Unit = {
    val q = spark.readStream.schema(schema).parquet(in)
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        Spans("probe")(NearDupState.probeAndAdvance(spark, state, batch, bid,
          appId = appId, verdictTable = Some(verd)).count()): Unit
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    Spans("drain")(q.awaitTermination())
  }

  private def versions = (GraftLog.latestVersion(spark, state),
    GraftLog.latestVersion(spark, verd))

  private def wave(): Op = {
    val (rows, exact) = waveRows()
    val d = df(rows)
    val bid = nextBatch
    nextBatch += 1
    Op("wave", () => {
      Spans("land")(d.coalesce(1).write.mode("append").parquet(in))
      drain()
      landed += ((bid, rows.map(_._1), exact, d))
      waves += 1
      // both tables' ledgers hold the wave as the stream's next batch
      () => {
        val want = Some(bid + (if (a.perturb) 1 else 0))
        val got = Seq(state, verd).map(GraftLog.lastCommittedBatch(spark, _, appId))
        if (got.exists(_ != want)) System.err.println(
          s"perfbench: after batch $bid the ledgers stand at ${got.mkString(", ")}")
        got.forall(_ == want)
      }
    })
  }

  /** The crash-window re-delivery of the last drained batch. */
  private def replay(): Op = {
    val (bid, _, _, d) = landed.last
    val before = versions
    Op("replay", () => {
      NearDupState.probeAndAdvance(spark, state, d, bid, appId = appId,
        verdictTable = Some(verd)).count()
      () => (versions == before) != a.perturb
    })
  }

  // Reads load the verdicts by path every time: a catalog table over them
  // would stay pinned at the version it was first read at, because the
  // stream commits through its own session, whose relation-cache
  // invalidation does not reach this session's catalog.
  private def verdictRows = spark.read.format("graft").load(verd)

  private def read(what: String, rows: => DataFrame)(
      ok: Array[Row] => Boolean): Op =
    Op("read", () => {
      val got = rows.collect()
      () => {
        val r = ok(got)
        if (!r) System.err.println(
          s"perfbench: wrong $what: ${got.take(20).mkString(", ")}")
        r
      }
    })

  /** The last wave's verdict count and flagged count. */
  private def readSummary(): Op = {
    val (bid, ids, exact, _) = landed.last
    read(s"verdict summary of batch $bid", verdictRows
        .filter(col("batch_id") === bid)
        .agg(count(lit(1)), count_if(col("is_near_dup")))) { r =>
      r(0).getLong(0) == ids.size + (if (a.perturb) 1 else 0) &&
        r(0).getLong(1) >= exact.size
    }
  }

  /** The last wave's flagged documents: a superset of its exact twins. */
  private def readFlagged(): Op = {
    val (bid, ids, exact, _) = landed.last
    read(s"flagged documents of batch $bid", verdictRows
        .filter(col("batch_id") === bid && col("is_near_dup"))
        .select("doc_id")) { r =>
      val got = r.map(_.getLong(0)).toSet
      (exact ++ (if (a.perturb) Some(-1L) else None)).forall(got)
    }
  }

  /** Three documents of the last wave: one verdict each, in its batch. */
  private def readByDoc(): Op = {
    val (bid, ids, _, _) = landed.last
    val pick = rng.shuffle(ids).take(3)
    read(s"verdicts of documents ${pick.mkString(",")}", verdictRows
        .filter(col("doc_id").isin(pick: _*))
        .select("doc_id", "batch_id")) { r =>
      r.map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq ==
        pick.map((_, bid + (if (a.perturb) 1 else 0))).sorted
    }
  }

  /** A wave, three rounds of three reads of its verdicts, then its
    * re-delivery. */
  def next(): Op = pending match {
    case f :: rest => pending = rest; f()
    case Nil =>
      pending = List.fill(3)(List(() => readSummary(),
        () => readFlagged(), () => readByDoc())).flatten :+ (() => replay())
      wave()
  }

  private lazy val verdicts: Map[Long, Seq[(Long, Boolean)]] =
    GraftLog.read(spark, verd).select("batch_id", "doc_id", "is_near_dup")
      .collect().toSeq
      .groupBy(_.getLong(0)).map { case (b, rs) =>
        b -> rs.map(r => (r.getLong(1), r.getBoolean(2))) }

  def finalChecks(): Seq[Check] = {
    val p = if (a.perturb) 1 else 0
    val perDoc = landed.forall { case (b, ids, _, _) =>
      val v = verdicts.getOrElse(b, Nil)
      v.size == ids.size + p && v.map(_._1).toSet == ids.toSet
    }
    val flagged = verdicts.values.flatten.collect { case (i, true) => i }.toSet
    val planted = landed.flatMap(_._3) ++ (if (a.perturb) Some(-1L) else None)
    val missed = planted.filterNot(flagged)
    Seq(Check("one_verdict_per_doc", perDoc,
        s"${landed.size} waves, ${verdicts.values.map(_.size).sum} verdicts"),
      Check("exact_twins_flagged", missed.isEmpty,
        s"${missed.size} planted exact twins not flagged"))
  }

  def storedBytesPerInputByte(): Double = storedAt

  def summary(lat: Map[String, Seq[Double]]) = {
    def l(k: String) = lat.getOrElse(k, Nil)
    Seq(("wave_p50_s", Stats.median(l("wave")) / 1e3, "s"),
      ("docs_per_s", throughput, "1/s"),
      ("replay_p50_ms", Stats.median(l("replay")), "ms"),
      ("verdict_read_p50_ms", Stats.median(l("read")), "ms"))
  }

  def layerExtras(): Map[String, Double] = {
    val all = verdicts.values.flatten.toSeq
    Map("neardup.state_files" -> Util.dataFiles(state).toDouble,
      "neardup.sidecar_bytes" ->
        Util.dirBytes(s"$state/_graft_sidecar").toDouble,
      "neardup.flag_ratio" ->
        (if (all.isEmpty) 0.0 else all.count(_._2).toDouble / all.size))
  }

  def teardown(): Unit = spark.streams.active.foreach(_.stop())
}

object CurationIngest {
  /** Draws documents as the sf0.1 `documents` test table holds them:
    * 10 to 100 words (uniform), each drawn uniformly from the table's
    * 31-word vocabulary, and languages in the table's shares. The
    * source is `src<doc_id mod 20>` and `n_chars` the text's length, as
    * there. */
  final class Gen(rng: Random) {
    private val vocab = ("a agg batch big column customer data dup fast " +
      "filter group hash join key line merge order part query row scan " +
      "slow small sort spark stream table the value vector window")
      .split(" ")
    /** Documents per language in the sf0.1 `documents`. */
    private val langs = Seq("en" -> 2059, "zh" -> 753, "es" -> 744,
      "fr" -> 742, "de" -> 702)

    private def word(): String = vocab(rng.nextInt(vocab.length))

    def text(): String = Seq.fill(10 + rng.nextInt(91))(word()).mkString(" ")

    def lang(): String = {
      var r = rng.nextInt(langs.map(_._2).sum)
      langs.find { case (_, n) => r -= n; r < 0 }.get._1
    }

    /** `t` with one word replaced. */
    def perturb(t: String): String = {
      val ws = t.split(" ")
      ws(rng.nextInt(ws.length)) = word()
      ws.mkString(" ")
    }
  }
}
