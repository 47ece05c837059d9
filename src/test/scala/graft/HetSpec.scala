package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Het

/** Heterogeneity: tagged fuse (runtime type values), typeof grouping,
  * per-type sample, and variant columns under the cross-type total order
  * (reference complex.go:290 TypeUnion, type.go:396-477 CompareTypes).
  */
class HetSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)
  private val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  test("fuseTagged keeps each row's original type as a runtime value") {
    val a = GraftSession.table(spark, dir, "region")
    val b = GraftSession.table(spark, dir, "nation")
    val mixed = Het.fuseTagged(a, b)
    val counts = mixed.groupBy(Het.typeofRow(mixed).as("t")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.size == 2)
    assert(counts.values.toSet == Set(a.count(), b.count()))
    // the tags are real zed type syntax
    assert(counts.keys.forall(t => t.startsWith("{") && t.endsWith("}")))
  }

  test("count() by typeof(this) — the zed shape-analysis idiom") {
    val mixed = Het.fuseTagged(
      GraftSession.table(spark, dir, "region"),
      GraftSession.table(spark, dir, "nation"),
      GraftSession.table(spark, dir, "supplier"))
    val n = mixed.groupBy(Het.typeofRow(mixed)).count().count()
    assert(n == 3)
  }

  test("sampleByType yields one representative per shape") {
    val mixed = Het.fuseTagged(
      GraftSession.table(spark, dir, "region"),
      GraftSession.table(spark, dir, "nation"))
    val s = Het.sampleByType(mixed)
    assert(s.count() == 2)
    assert(s.columns.contains(Het.typeTag))
  }

  test("isType filters a mixed stream to one shape") {
    val a = GraftSession.table(spark, dir, "region")
    val b = GraftSession.table(spark, dir, "nation")
    val mixed = Het.fuseTagged(a, b)
    val onlyA = mixed.filter(Het.isType(mixed, graft.functions.Shaper.zedTypeOf(a.schema)))
    assert(onlyA.count() == a.count())
  }

  test("variant column sorts under the cross-type total order") {
    // mixed: numbers (any width) < strings < bools; nulls last
    val df = Seq(
      ("a", Some(2L), None: Option[String], None: Option[Boolean]),
      ("b", None, Some("zzz"), None),
      ("c", Some(10L), None, None),
      ("d", None, None, Some(true)),
      ("e", None, Some("aaa"), None),
      ("f", None, None, None)
    ).toDF("id", "i", "s", "b")
    val v = Het.variantOf(
      (col("i"), LongType), (col("s"), StringType), (col("b"), BooleanType))
    val sorted = Het.sortByVariant(df.withColumn("v", v), col("v"))
      .select("id").collect().map(_.getString(0)).toSeq
    assert(sorted == Seq("a", "c", "b", "e").patch(2, Seq("e", "b"), 2) ||
      sorted == Seq("a", "c", "e", "b", "d", "f"))
    assert(sorted.take(2) == Seq("a", "c")) // numbers first, numeric order
    assert(sorted(2) == "e" && sorted(3) == "b") // then strings lexically
    assert(sorted(4) == "d") // then bools
    assert(sorted(5) == "f") // null last
  }

  test("cross-type min/max follow the total order") {
    val df = Seq(
      (1L, Some(5L), None: Option[String]),
      (2L, None, Some("x")),
      (3L, Some(1L), None)
    ).toDF("id", "i", "s")
    val v = Het.variantOf((col("i"), LongType), (col("s"), StringType))
    val r = df.agg(
      Het.render(Het.minVariant(v)).as("mn"),
      Het.render(Het.maxVariant(v)).as("mx")).collect()(0)
    assert(r.getString(0) == "1") // smallest number
    // non-coercible values are SKIPPED, not ranked (agg/math.go
    // consumeVal): max over {5, "x", 1} is 5, not "x"
    assert(r.getString(1) == "5")
  }

  test("fuseVariant forms union-typed columns for conflicting schemas") {
    import org.apache.spark.sql.types._
    val a = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")       // v: int64
    val b = Seq((3L, "hi"), (4L, "lo")).toDF("k", "v")     // v: string
    val fused = Het.fuseVariant(a, b)
    assert(fused.count() == 4)
    assert(fused.schema("v").dataType.isInstanceOf[StructType]) // variant
    assert(fused.schema("k").dataType == LongType) // agreeing column stays native
    // cross-type order: numbers before strings
    val sorted = Het.sortByVariant(fused, col("v")).select("k")
      .collect().map(_.getLong(0)).toSeq
    assert(sorted == Seq(1L, 2L, 3L, 4L)) // 10, 20, "hi", "lo"
    val types = fused.select(Het.variantTypeOf(col("v"))).distinct()
      .collect().map(_.getString(0)).toSet
    assert(types == Set("int64", "string"))
  }

  test("native container caches agree with the text-fallback path " +
       "(index/len/get/elems on populated vs canonical variants)") {
    import org.apache.spark.sql.types._
    val zv = graft.functions.ZvOps
    val strs = Seq((0L, "hello")).toDF("k", "v")
    val arrs = Seq((1L, Seq(10L, 20L, 30L))).toDF("k", "v")
    val recs = Seq((2L, (7L, "x"))).toDF("k", "v0")
      .select(col("k"), col("v0").cast("struct<a:bigint,b:string>").as("v"))
    val fused = Het.fuseVariant(strs, arrs, recs)
    def results(v: org.apache.spark.sql.Column) = fused.orderBy("k").select(
      Het.render(zv.len(v)).as("len"),
      Het.render(zv.index(v, lit(1))).as("idx"),
      Het.render(zv.index(v, lit(-1))).as("idxNeg"),
      Het.render(zv.index(v, lit(9))).as("idxOob"),
      Het.render(zv.get(v, "a")).as("getA"),
      Het.render(zv.get(v, "zz")).as("getMissing")
    ).collect().map(_.toSeq).toSeq
    val fast = results(col("v"))
    val slow = results(Het.canonical(col("v")))
    assert(fast == slow)
    // spot-check semantics, not just agreement
    assert(fast(0)(0) == "5")                        // len("hello") bytes
    assert(fast(1)(0) == "3" && fast(1)(1) == "20")  // [10,20,30]: len, [1]
    assert(fast(1)(2) == "30")                       // [-1] from the end
    assert(fast(1)(3).toString.contains("missing"))  // OOB → error("missing")
    assert(fast(2)(4) == "7")                        // {a:7,b:"x"}.a
    assert(fast(2)(5).toString.contains("missing"))
    // elems: native promote of the cached leaves
    val el = fused.filter(col("k") === 1)
      .select(Het.render(zv.elems(col("v")).getItem(1))).collect()(0).getString(0)
    assert(el == "20")
  }

  test("variant typeof and accessors") {
    val df = Seq((Some(1L), None: Option[String]), (None, Some("s"))).toDF("i", "s")
    val v = Het.variantOf((col("i"), LongType), (col("s"), StringType))
    val rows = df.select(Het.variantTypeOf(v), Het.asNumber(v), Het.asString(v)).collect()
    assert(rows(0).getString(0) == "int64" && rows(0).getDouble(1) == 1.0 && rows(0).isNullAt(2))
    assert(rows(1).getString(0) == "string" && rows(1).isNullAt(1) && rows(1).getString(2) == "s")
  }

  test("chained field access on nested records stays native via the deep " +
       "cache (d), agreeing with the text path at every depth") {
    val zv = graft.functions.ZvOps
    val recs = spark.range(3).select(col("id").as("k"), struct(
      struct(col("id").as("a"), concat(lit("u"), col("id")).as("b"),
        struct((col("id") * 10).as("x")).as("deep")).as("o"),
      (col("id") + 100).as("top")).as("v"))
    val strs = Seq((99L, "plain")).toDF("k", "v")
    val fused = Het.fuseVariant(recs, strs)
    def results(v: org.apache.spark.sql.Column) = fused.orderBy("k").select(
      Het.render(zv.get(zv.get(v, "o"), "a")).as("oa"),
      Het.render(zv.get(zv.get(v, "o"), "b")).as("ob"),
      Het.render(zv.get(zv.get(zv.get(v, "o"), "deep"), "x")).as("odx"),
      Het.render(zv.get(zv.get(v, "o"), "zz")).as("omiss"),
      Het.render(zv.get(zv.get(v, "nope"), "a")).as("missChain")
    ).collect().map(_.toSeq).toSeq
    val fast = results(col("v"))
    val slow = results(Het.canonical(col("v"))) // text path: caches stripped
    assert(fast == slow, s"native/deep disagreed with text:\n$fast\nvs\n$slow")
    assert(fast(1)(0) == "1" && fast(1)(1) == "\"u1\"" && fast(1)(2) == "10")
    assert(fast(1)(3).toString.contains("missing"))
    assert(fast(1)(4).toString.contains("missing"))
    assert(fast(3)(0).toString.contains("missing")) // string row: no fields
    // the intermediate access carries derived child caches, so the next
    // hop has a populated m (the native-branch guard) without text parse
    val childM = fused.filter(col("k") === 1)
      .select(zv.get(col("v"), "o").getField("m").isNotNull).head.getBoolean(0)
    assert(childM, "nested record hit must carry a derived m cache")
  }

  test("a union column read from zng answers when only part of its " +
       "variant is selected (typeof alone, len in a where)") {
    // v is int64, string, record or array by row: one variant column
    val lines = (0 until 80).map { i =>
      val v = i % 4 match {
        case 0 => s"$i"
        case 1 => s""""s$i""""
        case 2 => s"""{x:$i,y:"y$i"}"""
        case _ => s"[$i,${i + 1},${i + 2}]"
      }
      s"{i:$i,v:$v}"
    }
    val path = java.nio.file.Files.createTempDirectory("graft-het-union").resolve("u.zng")
    java.nio.file.Files.write(path, graft.sources.ZngIO.encodeTypedStream(
      lines.map(l => graft.sources.ZsonParser.parseAll(l).head)))
    val df = graft.sources.ZngIO.read(spark, path.toString)
    val types = df.orderBy("i").select(Het.variantTypeOf(col("v"))).collect().map(_.getString(0))
    assert(types.toSeq == (0 until 80).map(i =>
      Seq("int64", "string", "{x:int64,y:string}", "[int64]")(i % 4)))
    val n = graft.lang.Graft.query(spark, "", s"from '$path' | where len(v)==3 | count()")
      .collect().head.getLong(0)
    // three-byte strings and the three-element arrays
    assert(n == (0 until 80).count(i => i % 4 == 3 || (i % 4 == 1 && s"s$i".length == 3)))
  }
}
