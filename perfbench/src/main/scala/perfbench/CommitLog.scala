package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.GraftLog

/** commit_log: a medallion table under its ETL. One lineitem-shaped
  * table takes a long stream of `txnAppend` commits of a few hundred
  * rows, with a merge (a seeded mix of matched and new keys) and a
  * predicate delete in every nine commits, then an MV refresh. Right
  * after each refresh an analyst reads the fresh table: an aggregate the
  * MV serves, SQL point lookups of an order (half hit, half miss) and a
  * group-by scan. New orders land in order-key order, so the table is
  * range-clustered on `l_orderkey` and a lookup can skip every file whose
  * stats exclude its key. An in-memory model of the rows follows every
  * call and is the expected answer to every query.
  *
  * Rows follow the sf0.1 `lineitem` test table column by column (see
  * [[CommitLog.Gen]]), plus `l_id`, the row identity that merge and the
  * MV key on. */
final class CommitLog(spark: SparkSession, dir: String, a: Args)
    extends Workload {
  import CommitLog.Line
  private val scale = a.sf / 0.1
  private val baseRows = math.max((5000 * scale).toInt, 100)
  private val appendRows = math.max((500 * scale).toInt, 10)
  private val mergeRows = math.max((50 * scale).toInt, 6)
  /** Orders per delete: about 25 rows at four lines an order. */
  private val deleteOrders = 6
  private val rng = new Random(a.seed)
  private val gen = new CommitLog.Gen(rng)
  private val table = s"$dir/lake/lineitem_stream"
  private val view = s"$dir/lake/lineitem_by_flag"
  private val sqlName = "cl_src"
  private val appId = "perfbench-commit-log"
  private val defSql =
    s"""SELECT l_returnflag, l_linestatus, count(1) AS n,
       |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE),
       |    6) AS total
       |FROM $sqlName GROUP BY l_returnflag, l_linestatus""".stripMargin
  private val commitKinds = Set("append", "merge", "delete", "refresh")

  private val model = mutable.LinkedHashMap.empty[Long, Line]
  private val inputs = ArrayBuffer.empty[(Long, Line)]
  private val deleted = ArrayBuffer.empty[Long]
  private var nextId = 0L
  private var nextOrder = 0L
  private var nextBatch = 0L
  private var lastBatch: Option[(DataFrame, Long)] = None
  private var schedule: List[String] = Nil
  private var folded = 0L
  private var refreshes = 0L
  private var mvHits, mvTries = 0L
  // commits and their call time, over whole cycles only, so the mix of
  // call kinds behind the rate is the same in every run
  private var cycleCommits, cycleMs = 0.0
  private var doneCommits, doneMs = 0.0
  private lazy val stored = computeStored()
  /** Table bytes and input rows at the end of the first cycle. */
  private var storedAt: Option[(Long, Int)] = None

  private def df(rows: Seq[(Long, Line)]): DataFrame =
    spark.createDataFrame(rows.map { case (id, l) =>
      Row.fromSeq(id +: l.productIterator.toSeq) }.asJava, CommitLog.schema)
  /** `n` rows of whole new orders, the last one cut to fit. */
  private def fresh(n: Int): Seq[(Long, Line)] =
    Iterator.continually {
      nextOrder += 1
      (1 to gen.lines()).map(no => gen.line(nextOrder, no))
    }.flatten.take(n).map { l => nextId += 1; (nextId, l) }.toSeq

  def primary = "append"
  def read = "point"
  def throughput: Double = if (doneMs > 0) doneCommits / (doneMs / 1e3) else 0.0

  def cycleDone: Boolean = schedule.isEmpty

  override def record(kind: String, ms: Double): Unit = {
    if (commitKinds(kind)) { cycleCommits += 1; cycleMs += ms }
    if (cycleDone) {
      if (doneMs == 0) storedAt = Some((Util.dirBytes(table), inputs.size))
      doneCommits += cycleCommits; doneMs += cycleMs
      cycleCommits = 0; cycleMs = 0
    }
  }

  def setup(): Unit = {
    val base = fresh(baseRows)
    Spans("fixture.table")(GraftLog.overwrite(df(base), table))
    base.foreach(model += _); inputs ++= base
    spark.sql(s"DROP TABLE IF EXISTS $sqlName")
    spark.sql(s"CREATE TABLE $sqlName USING graft OPTIONS (path '$table')")
    Spans("fixture.mv")(spark.sql(
      s"CREATE MATERIALIZED VIEW '$view' KEY l_id AS $defSql").collect())
  }

  /** One cycle: seven appends, a merge and a delete in a seeded order,
    * then the refresh and the reads of the fresh table, with four point
    * lookups that hit and four that miss in a seeded order. */
  def next(): Op = {
    if (schedule.isEmpty) schedule = rng.shuffle(
      List.fill(7)("append") ++ List("merge", "delete")) ++
      List("refresh", "mv") ++
      rng.shuffle(List.fill(4)("hit") ++ List.fill(4)("miss")) ++ List("agg")
    val k = schedule.head; schedule = schedule.tail
    call(k)
  }

  /** The check of a merge or delete: it committed the version right
    * after the one it started from. */
  private def nextVersion(): Long => Boolean = {
    val want = GraftLog.latestVersion(spark, table).getOrElse(-1L) + 1 +
      (if (a.perturb) 1 else 0)
    _ == want
  }

  private def call(kind: String): Op = kind match {
    case "append" =>
      val rows = fresh(appendRows)
      val (d, bid) = (df(rows), nextBatch)
      nextBatch += 1
      Op(kind, () => {
        val ok = GraftLog.txnAppend(d, table, appId, bid)
        rows.foreach(model += _); inputs ++= rows; lastBatch = Some((d, bid))
        () => ok != a.perturb
      })
    case "merge" =>
      val share = 0.3 + 0.4 * rng.nextDouble()
      val ids = model.keysIterator.toIndexedSeq
      // a matched row is a revised order line: same keys, new values
      val matched = rng.shuffle(ids).take((mergeRows * share).toInt)
        .map { id => val l = model(id); (id, gen.line(l.orderkey, l.linenumber)) }
      val rows = matched ++ fresh(mergeRows - matched.size)
      val d = df(rows)
      val committed = nextVersion()
      Op(kind, () => {
        val v = GraftLog.merge(d, table, Seq("l_id"))
        rows.foreach(model += _); inputs ++= rows
        () => committed(v)
      })
    case "delete" =>
      val orders = model.valuesIterator.map(_.orderkey).toIndexedSeq
      val lo = orders(rng.nextInt(orders.size))
      val hi = lo + deleteOrders - 1
      val committed = nextVersion()
      Op(kind, () => {
        val v = GraftLog.delete(spark, table, col("l_orderkey").between(lo, hi))
        deleted ++= model.valuesIterator.map(_.orderkey)
          .filter(o => o >= lo && o <= hi).toSeq.distinct
        model.filterInPlace { case (_, l) => l.orderkey < lo || l.orderkey > hi }
        () => committed(v)
      })
    case "refresh" =>
      Op(kind, () => {
        val n = spark.sql(s"REFRESH MATERIALIZED VIEW '$view'")
          .collect()(0).getInt(0)
        folded += n; refreshes += 1
        () => (n >= 1) != a.perturb
      })
    case "mv" =>
      Op(kind, () => {
        val df = spark.sql(defSql)
        val got = groups(df.collect())
        () => {
          val plan = df.queryExecution.optimizedPlan
          val served = scans(plan, view) && !scans(plan, table)
          mvTries += 1
          if (served) mvHits += 1
          val want = byGroup(_ => true)
          agree(defSql, got, want)(sameGroups(got, want)) &&
            served != a.perturb
        }
      })
    case "hit" | "miss" =>
      // a miss is a deleted order where there is one, else past the end
      val k =
        if (kind == "hit") model.valuesIterator.drop(rng.nextInt(model.size))
          .next().orderkey
        else if (deleted.nonEmpty) deleted(rng.nextInt(deleted.size))
        else nextOrder + 1 + rng.nextInt(1000)
      val sql = s"SELECT ${CommitLog.cols.drop(2).mkString(", ")} " +
        s"FROM $sqlName WHERE l_orderkey = $k"
      Op("point", () => {
        val got = spark.sql(sql).collect().map(render).toSeq.sorted
        () => agree(sql, got, (model.valuesIterator.filter(_.orderkey == k)
          .map(l => render(Row.fromSeq(l.productIterator.drop(1).toSeq)))
          .toSeq ++ (if (a.perturb) Seq("perturbed") else Nil)).sorted)()
      })
    case "agg" =>
      val cut = 1 + rng.nextInt(50)
      val sql = defSql.replace("GROUP BY", s"WHERE l_quantity <= $cut GROUP BY")
      Op(kind, () => {
        val got = groups(spark.sql(sql).collect())
        () => {
          val want = byGroup(_.quantity <= cut)
          agree(sql, got, want)(sameGroups(got, want))
        }
      })
  }

  private def render(r: Row): String = r.toSeq.mkString("|")

  private def groups(rows: Array[Row]): Map[String, (Long, Double)] =
    rows.map(r => s"${r.getString(0)}|${r.getString(1)}" ->
      (r.getLong(2), r.getDouble(3))).toMap

  /** The model's answer to `defSql` over the rows passing `keep`; a
    * perturbed run expects one group more. */
  private def byGroup(keep: Line => Boolean): Map[String, (Long, Double)] =
    model.values.filter(keep).groupBy(l => s"${l.returnflag}|${l.linestatus}")
      .map { case (g, ls) =>
        g -> (ls.size.toLong, Util.sumDecimal(ls.map(_.extendedprice)).toDouble)
      } ++ (if (a.perturb) Map("perturbed" -> (1L, 0.0)) else Map.empty)

  private def agree(q: String, got: Any, want: Any)(
      same: Boolean = got == want): Boolean = {
    if (!same) System.err.println(
      s"perfbench: wrong answer to $q\n  got  $got\n  want $want")
    same
  }

  private def sameGroups(got: Map[String, (Long, Double)],
      want: Map[String, (Long, Double)]): Boolean =
    got.keySet == want.keySet && want.forall { case (g, (n, t)) =>
      got(g)._1 == n && Util.close(got(g)._2, t) }

  private def scans(plan: LogicalPlan, p: String): Boolean =
    plan.collectLeaves().exists {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.exists(_.toUri.getPath == p)
      case _ => false
    }

  private def hashOf(d: DataFrame): (Long, java.math.BigDecimal) = {
    val r = d.select(count(lit(1)),
        sum(xxhash64(CommitLog.cols.map(col): _*).cast("decimal(38,0)")))
      .collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def finalChecks(): Seq[Check] = {
    val p = if (a.perturb) 1L else 0L
    val (n, h) = hashOf(GraftLog.read(spark, table))
    val (mn, mh) = hashOf(df(model.toSeq))
    val rows = Check("rows_match_model", n == mn + p && h == mh,
      s"table count=$n hash=$h; model count=${mn + p} hash=$mh")

    spark.sql(s"REFRESH MATERIALIZED VIEW '$view'").collect()
    val got = groups(spark.sql(defSql).collect())
    val want = byGroup(_ => true)
    val mv = Check("mv_matches_group_by", sameGroups(got, want),
      s"view=${got.toSeq.sorted} model=${want.toSeq.sorted}")
    val hit = Check("mvrewrite_hit_ratio", mvTries > 0 && mvHits == mvTries + p,
      s"$mvHits of $mvTries MV-eligible queries read the view")

    val resent = lastBatch.exists { case (d, bid) =>
      GraftLog.txnAppend(d, table, appId, bid) }
    val txn = Check("txn_resend_rejected", resent == a.perturb,
      s"re-sent batch committed=$resent")
    Seq(rows, mv, hit, txn)
  }

  /** Storage after the first cycle, a point every run reaches after the
    * same calls: the table root against the same input rows written
    * once as one parquet file. */
  private def computeStored(): Double = {
    val (bytes, rows) = storedAt.getOrElse((Util.dirBytes(table), inputs.size))
    val plain = s"$dir/plain_inputs"
    df(inputs.take(rows).toSeq).coalesce(1).write.parquet(plain)
    bytes.toDouble / Util.dirBytes(plain)
  }
  def storedBytesPerInputByte(): Double = stored

  def summary(lat: Map[String, Seq[Double]]) = {
    def l(k: String) = lat.getOrElse(k, Nil)
    Seq(("commit_ops_per_s", throughput, "1/s"),
      ("append_p50_ms", Stats.median(l("append")), "ms"),
      ("append_tail_ms", Stats.tail(l("append")), "ms"),
      ("merge_p50_ms", Stats.median(l("merge")), "ms"),
      ("delete_p50_ms", Stats.median(l("delete")), "ms"),
      ("mv_refresh_p50_ms", Stats.median(l("refresh")), "ms"),
      ("stored_bytes_per_input_byte", stored, "ratio"),
      ("point_p50_ms", Stats.median(l("point")), "ms"),
      ("point_tail_ms", Stats.tail(l("point")), "ms"),
      ("agg_p50_ms", Stats.median(l("agg")), "ms"),
      ("mv_query_p50_ms", Stats.median(l("mv")), "ms"))
  }

  def layerExtras(): Map[String, Double] = Map(
    "aggview.versions_folded" -> folded.toDouble / math.max(refreshes, 1L),
    "mvrewrite.hit_ratio" -> mvHits.toDouble / math.max(mvTries, 1L))

  def teardown(): Unit = {
    scala.util.Try(spark.sql(s"DROP MATERIALIZED VIEW '$view'").collect())
    graft.sql.MvRegistry.unregisterMatching(table)
    spark.sql(s"DROP TABLE IF EXISTS $sqlName")
  }
}

object CommitLog {
  /** One row of the sf0.1 `lineitem` test table. */
  final case class Line(orderkey: Long, partkey: Long, suppkey: Long,
      linenumber: Int, quantity: Double, extendedprice: Double,
      discount: Double, tax: Double, returnflag: String, linestatus: String,
      shipdate: java.sql.Timestamp)

  val schema: StructType = StructType(
    StructField("l_id", LongType, nullable = false) +: Seq(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType).map { case (n, t) => StructField(n, t) })
  val cols: Seq[String] = schema.fieldNames.toSeq

  /** Draws rows as the sf0.1 `lineitem` test table holds them (600,000
    * rows): every column independent and uniform over the range it
    * spans there, and lines per order as counted there. Unlike the test
    * table, the lines of an order are numbered 1, 2, ... so that
    * (order, line) names one row. */
  final class Gen(rng: Random) {
    /** Orders of the sf0.1 `lineitem` with 1, 2, ..., 17 lines. */
    private val perOrder = Array(11016, 21814, 29500, 29097, 23631, 15625,
      8941, 4407, 1959, 818, 292, 93, 29, 10, 1, 2, 1)
    private val firstShip = java.time.LocalDate.of(1995, 1, 2)

    def lines(): Int = {
      var r = rng.nextInt(perOrder.sum)
      var n = 0
      while (r >= perOrder(n)) { r -= perOrder(n); n += 1 }
      n + 1
    }

    def line(order: Long, no: Int): Line = Line(order,
      rng.nextInt(20000).toLong, rng.nextInt(1000).toLong, no,
      (1 + rng.nextInt(50)).toDouble,
      (90068 + rng.nextInt(10499991 - 90068 + 1)) / 100.0,
      rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
      Seq("A", "N", "R")(rng.nextInt(3)), Seq("F", "O")(rng.nextInt(2)),
      java.sql.Timestamp.valueOf(
        firstShip.plusDays(rng.nextInt(2499).toLong).atStartOfDay))
  }
}
