package graftbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `conn_search`: one closed-loop client sending a fixed rotation of Zed
  * queries over a ZNG stream of Zeek `conn` records (the reference's
  * perf-compare set plus a needle search, a sum-by and a top-k sort).
  */
final class ConnSearch extends Workload {
  val rows = 150000L

  private var zng: Path = _
  private var expected = Map.empty[String, Seq[String]]
  private var digests = Map.empty[String, (Long, BigDecimal)]
  private val checkedDigest = scala.collection.mutable.Set.empty[String]
  private var zngBytes = 0L

  private val leafCols = Seq("ts", "uid", "id.orig_h", "id.orig_p", "id.resp_h", "id.resp_p",
    "proto", "service", "duration", "orig_bytes", "resp_bytes", "conn_state",
    "orig_pkts", "resp_pkts")
  private val respHost = "52.85.83.7"
  private var needle = ""

  def setup(b: Bench): Unit = {
    val spark = b.spark
    zng = b.dir.resolve("conn.zng")
    val gen = Gen.conn(spark, b.seed, 0, rows)
    b.phase("write-zng")(Gen.writeConnZng(gen, zng.toString, b.cores))
    zngBytes = Util.treeBytes(zng)
    // the twin: the generated rows themselves, cached, queried with plain
    // Spark SQL (never graft's readers or compiler)
    val twin = b.phase("twin") { val t = gen.cache(); t.count(); t }
    needle = twin.filter(col("ts") === timestamp_micros(lit(Gen.tsBaseMicros + (rows / 2 + 17) * 1000L)))
      .select("uid").head().getString(0)
    def rowsOf(df: DataFrame, ordered: Boolean) = Check.lines(df.collect().toSeq, ordered)
    expected = b.phase("expected")(Map(
      "count" -> Seq(rows.toString),
      "count_by_orig_h" -> rowsOf(twin.groupBy(col("id.orig_h")).count(), ordered = false),
      "resp_h_eq" -> rowsOf(twin.filter(col("id.resp_h") === respHost), ordered = false),
      "uid_needle" -> rowsOf(twin.filter(col("uid") === needle), ordered = false),
      "sum_by_service" -> rowsOf(twin.groupBy("service").agg(sum("orig_bytes")).orderBy("service"),
        ordered = true),
      "sort_head" -> rowsOf(twin.orderBy(col("ts").desc).limit(10), ordered = true)))
    digests = b.phase("expected")(
      Map("star" -> Check.digest(twin, leafCols), "cut_ts" -> Check.digest(twin, Seq("ts"))))
    twin.unpersist()
  }

  private def from(q: String) = s"from '$zng' | $q"

  /** Full-stream queries: rows go to a counting sink; the first run of
    * each is also checked against the twin's digest, untimed.
    */
  private def streamOp(kind: String, q: String, cols: Seq[String]): Op =
    Op(kind, b => {
      val n = b.timed(b.sink(b.compile(from(q))))
      b.check {
        Check.expectEq(kind, n, rows)
        if (checkedDigest.add(kind))
          Check.expectEq(s"$kind digest", Check.digest(b.compile(from(q)), cols), digests(kind))
      }
    })

  private def rowsOp(kind: String, q: String, ordered: Boolean): Op =
    Op(kind, b => {
      val got = b.timed(b.query(from(q)))
      b.check(Check.expectLines(kind, Check.lines(got, ordered), expected(kind)))
    })

  val minRotations = 4

  lazy val rotation: IndexedSeq[Op] = IndexedSeq(
    streamOp("star", "*", leafCols),
    streamOp("cut_ts", "cut ts", Seq("ts")),
    rowsOp("count", "count()", ordered = true),
    rowsOp("count_by_orig_h", "count() by id.orig_h", ordered = false),
    rowsOp("resp_h_eq", s"id.resp_h==$respHost", ordered = false),
    Op("uid_needle", b => {
      val got = b.timed(b.query(from(s"uid==\"$needle\"")))
      b.check(Check.expectLines("uid_needle", Check.lines(got, ordered = false), expected("uid_needle")))
    }),
    rowsOp("sum_by_service", "summarize sum(orig_bytes) by service | sort service", ordered = true),
    rowsOp("sort_head", "sort -r ts | head 10", ordered = true))

  def inputs: Seq[Input] = Seq(Input("conn.zng", rows, zngBytes, 1))

  def probes(b: Bench): Map[String, Double] = {
    val mixed = b.dir.resolve("probe-mixed.zng")
    Util.deleteTree(mixed)
    val kinds = Gen.mixedKinds(b.spark, b.seed, 20, 20000)
    Gen.writeMixedZng(kinds, mixed, b.cores)
    Map("sources.zng_decode_mb_per_s" -> Probes.zngDecode(b, zng)) ++
      Probes.variant(b, mixed, kinds.map(_.rows).sum) ++ Probes.lakeService(b)
  }
}
