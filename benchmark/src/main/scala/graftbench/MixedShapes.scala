package graftbench

import java.nio.file.Path

import org.apache.spark.sql.functions._

/** `mixed_shapes`: one closed-loop client sending Zed queries over a ZNG
  * stream of [[kinds]] record types whose shared field names differ in
  * type (see [[Gen.mixedKinds]]). Reading it fuses a schema wider than
  * the engine's 60-column codegen guard with union-typed columns, so the
  * variant runtime, the per-type decoders and `fuse` do the work.
  */
final class MixedShapes extends Workload {
  val kinds = 20
  val rows = 30000L

  private var zng: Path = _
  private var ks: Seq[Gen.Kind] = Nil
  private var total = 0L
  private var zngBytes = 0L
  private var expected = Map.empty[String, Seq[String]]
  private var cutDigest: (Long, BigDecimal) = (0L, BigDecimal(0))
  private var digestChecked = false

  /** Zed type text of kind `k`'s `v`, `a` (if any) and whole record. */
  private def vType(k: Int) =
    Seq("int64", "string", "{x:int64,y:string}", "[int64]")(k % 4)
  private def aType(k: Int) = Seq(Some("{b:{c:int64,d:string}}"), Some("string"), None)(k % 3)
  private def recordType(k: Int): String = {
    val priv = (0 until Gen.privateFields).map { j =>
      s"f${Gen.kindName(k)}_$j:" + Seq("int64", "string", "float64")(j % 3)
    }
    (Seq("ts:time", "kind:string", "n:int64", s"v:${vType(k)}") ++
      aType(k).map(t => s"a:$t") ++ (if (k % 2 == 0) Seq("xs:[int64]") else Nil) ++ priv)
      .mkString("{", ",", "}")
  }

  def setup(b: Bench): Unit = {
    val spark = b.spark
    zng = b.dir.resolve("mixed.zng")
    ks = Gen.mixedKinds(spark, b.seed, kinds, rows)
    total = ks.map(_.rows).sum
    b.phase("write-zng")(Gen.writeMixedZng(ks, zng, b.cores))
    zngBytes = Util.treeBytes(zng)
    // expected answers from the generated rows themselves, never through
    // graft's readers or compiler: each kind's twin columns (v as text for
    // distinct counts, v.x and a.b.c as plain longs) are collected and
    // folded here; the `fuse | cut` digest is summed from per-kind digests
    val twins = b.phase("twin")(Util.parallel(b.cores)(ks.map { kd => () =>
      val df = kd.df
      df.select(col("n"), to_json(struct(col("v"))),
        (if (kd.k % 4 == 2) col("v.x") else lit(null).cast("long")),
        (if (kd.k % 3 == 0) col("a.b.c") else lit(null).cast("long")),
        (if (df.columns.contains("xs")) col("xs") else lit(null).cast("array<bigint>")))
        .collect().toSeq
    }))
    b.phase("expected") {
      def sumOrNull(xs: Seq[Any]) = if (xs.contains(null)) "-" else xs.map(_.asInstanceOf[Long]).sum.toString
      val byKind = ks.zip(twins).map { case (kd, rs) => (kd.name, rs) }
      val xsAll = twins.flatten.flatMap(r => Option(r.getSeq[Long](4)))
      expected = Map(
        "typeof_this" -> ks.map(kd => s"${recordType(kd.k)}|${kd.rows}").sorted,
        "has_deep" -> Seq(ks.filter(_.k % 3 == 0).map(_.rows).sum.toString),
        "over_xs" -> Seq(s"${xsAll.map(_.length).sum}|${xsAll.map(_.sum).sum}"),
        "deep_sum_by_kind" -> byKind.map { case (k, rs) => s"$k|${sumOrNull(rs.map(_.get(3)))}" }.sorted,
        "union_by_kind" -> byKind.map { case (k, rs) => s"$k|${rs.map(_.getString(1)).distinct.length}" }.sorted,
        "cast_distinct" -> Seq(twins.flatten.map(_.getLong(0)).distinct.length.toString),
        "typeof_v" -> ks.groupBy(kd => vType(kd.k)).map { case (t, g) => s"$t|${g.map(_.rows).sum}" }
          .toSeq.sorted,
        "vx_sum_by_kind" -> byKind.map { case (k, rs) => s"$k|${sumOrNull(rs.map(_.get(2)))}" }.sorted)
      val parts = Util.parallel(b.cores)(ks.map(kd => () => Check.digest(kd.df, Seq("kind", "ts"))))
      cutDigest = (parts.map(_._1).sum, parts.map(_._2).sum)
    }
  }

  private def from(q: String) = s"from '$zng' | $q"

  private def rowsOp(kind: String, q: String): Op =
    Op(kind, b => {
      val got = b.timed(b.query(from(q)))
      b.check(Check.expectLines(kind, Check.lines(got, ordered = false), expected(kind)))
    })

  val minRotations = 4

  lazy val rotation: IndexedSeq[Op] = IndexedSeq(
    rowsOp("typeof_this", "count() by typeof(this)"),
    Op("fuse_cut", b => {
      val n = b.timed(b.sink(b.compile(from("fuse | cut kind, ts"))))
      b.check {
        Check.expectEq("fuse_cut", n, total)
        if (!digestChecked) {
          digestChecked = true
          Check.expectEq("fuse_cut digest",
            Check.digest(b.compile(from("fuse | cut kind, ts")), Seq("kind", "ts")), cutDigest)
        }
      }
    }),
    rowsOp("has_deep", "where has(a.b.c) | count()"),
    rowsOp("over_xs", "over xs | summarize c:=count(), s:=sum(this)"),
    rowsOp("deep_sum_by_kind", "summarize s:=sum(a.b.c) by kind"),
    rowsOp("union_by_kind", "summarize u:=union(v) by kind | yield {kind, n:len(u)}"),
    rowsOp("cast_distinct", "yield cast(n, <string>) | count() by this | count()"),
    rowsOp("typeof_v", "count() by typeof(v)"),
    rowsOp("vx_sum_by_kind", "summarize s:=sum(v.x) by kind"))

  def inputs: Seq[Input] = Seq(Input("mixed.zng", total, zngBytes, kinds))

  def probes(b: Bench): Map[String, Double] =
    Map("sources.zng_decode_mb_per_s" -> Probes.zngDecode(b, zng)) ++
      Probes.variant(b, zng, total) ++ Probes.lakeService(b)
}
