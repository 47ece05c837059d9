package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** Seeded input generators. Every value is a pure function of (seed, row
  * index), so the same seed always yields the same files. Rows are built
  * with plain Spark SQL; the engine only ever sees the written files.
  */
object Gen {

  /** Base of the generated `ts` values: 2018-03-24T17:15:21Z in µs. */
  val tsBaseMicros = 1521911721000000L

  /** A seeded pseudo-random non-negative long for row `id`, stream `k`. */
  def rnd(seed: Long, k: Int, id: Column = col("id")): Column =
    pmod(xxhash64(id, lit(seed), lit(k)), lit(1L << 40))

  private def pick(r: Column, xs: Seq[Any]): Column =
    element_at(array(xs.map(lit): _*), (r % xs.length + 1).cast("int"))

  val services = Seq("http", "ssl", "dns", "ssh", "smtp")
  val protos = Seq("tcp", "udp", "tcp", "tcp")
  val states = Seq("SF", "S0", "REJ", "RSTO", "SH")
  val respPorts = Seq(80, 443, 53, 22)
  /** Distinct responder hosts: `52.85.83.<0..respHosts-1>`. */
  val respHosts = 200

  /** Zeek `conn` rows for ids [from, until): ascending ts, 1 ms apart. */
  def conn(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame = {
    val r = (k: Int) => rnd(seed, k)
    spark.range(from, until).select(
      timestamp_micros(lit(tsBaseMicros) + col("id") * 1000L).as("ts"),
      concat(lit("C"), substring(md5(concat(lit(s"$seed:"), col("id").cast("string"))), 1, 17)).as("uid"),
      struct(
        concat(lit("10.0."), (r(1) % 64).cast("string"), lit("."),
          (r(2) % 250 + 1).cast("string")).as("orig_h"),
        (r(3) % 60000 + 1024).cast("int").as("orig_p"),
        concat(lit("52.85.83."), (r(4) % respHosts).cast("string")).as("resp_h"),
        pick(r(5), respPorts).as("resp_p")).as("id"),
      pick(r(6), protos).as("proto"),
      pick(r(7), services).as("service"),
      (r(8) % 5000000000L).as("duration"),
      (r(9) % 100000).as("orig_bytes"),
      (r(10) % 900000).as("resp_bytes"),
      pick(r(11), states).as("conn_state"),
      (r(12) % 50).as("orig_pkts"),
      (r(13) % 70).as("resp_pkts"))
  }

  /** The Zed type of a conn row: Zeek's types, so `id.resp_h` is an ip. */
  val connShape =
    "{ts:time,uid:string,id:{orig_h:ip,orig_p:uint16,resp_h:ip,resp_p:uint16}," +
      "proto:string,service:string,duration:duration,orig_bytes:uint64," +
      "resp_bytes:uint64,conn_state:string,orig_pkts:uint64,resp_pkts:uint64}"

  /** Write conn rows as ZNG, typed by [[connShape]]. */
  def writeConnZng(df: DataFrame, path: String, parts: Int): Unit = {
    val tag = graft.operators.Het.typeTag
    val md = new MetadataBuilder().putStringArray("shapes", Array(connShape)).build()
    graft.sources.ZngIO.write(
      df.repartition(parts).withColumn(tag, lit(connShape).as(tag, md)), path)
  }

  /** Write conn rows as one Zeek TSV log (plain text, Zeek's header). */
  def writeZeek(df: DataFrame, file: Path): Long = {
    val header =
      "#separator \\x09\n#set_separator\t,\n#empty_field\t(empty)\n#unset_field\t-\n" +
        "#path\tconn\n#open\t2018-03-24-17-15-21\n" +
        "#fields\tts\tuid\tid.orig_h\tid.orig_p\tid.resp_h\tid.resp_p\tproto\tservice\t" +
        "duration\torig_bytes\tresp_bytes\tconn_state\torig_pkts\tresp_pkts\n" +
        "#types\ttime\tstring\taddr\tport\taddr\tport\tenum\tstring\tinterval\t" +
        "count\tcount\tstring\tcount\tcount\n"
    val lines = df.select(concat_ws("\t",
      format_string("%d.%06d", floor(unix_micros(col("ts")) / 1000000L),
        pmod(unix_micros(col("ts")), lit(1000000L))),
      col("uid"), col("id.orig_h"), col("id.orig_p").cast("string"),
      col("id.resp_h"), col("id.resp_p").cast("string"), col("proto"), col("service"),
      format_string("%d.%09d", floor(col("duration") / 1000000000L),
        pmod(col("duration"), lit(1000000000L))),
      col("orig_bytes").cast("string"), col("resp_bytes").cast("string"),
      col("conn_state"), col("orig_pkts").cast("string"), col("resp_pkts").cast("string")))
      .orderBy(col("ts")).collect().map(_.getString(0))
    val text = lines.mkString(header, "\n", "\n#close\t2018-03-24-17-20-00\n")
    val bytes = text.getBytes(StandardCharsets.UTF_8)
    Files.createDirectories(file.getParent)
    Files.write(file, bytes)
    bytes.length.toLong
  }

  /** Mixed-shape stream: `kinds` record types, written as one ZNG directory.
    *
    * Every type has `ts`, `kind` and `n`. Shared names differ in type
    * across kinds, so reading the stream fuses them into union columns:
    * `v` is int64, string, record or array by `kind % 4`; `a` is a nested
    * record `{b:{c,d}}` when `kind % 3 == 0` and a string when
    * `kind % 3 == 1`. Even kinds carry an int64 array `xs`. Each kind also
    * has [[privateFields]] fields of its own, so the fused schema is wider
    * than the engine's 60-column codegen guard.
    */
  final case class Kind(k: Int, name: String, rows: Long, df: DataFrame)

  val privateFields = 5

  def kindName(k: Int): String = f"t$k%02d"

  def mixedKinds(spark: SparkSession, seed: Long, kinds: Int, rows: Long): Seq[Kind] =
    (0 until kinds).map { k =>
      // kind sizes differ (1x..4x) so group counts are not uniform
      val weight = 1 + (k % 4)
      val total = (0 until kinds).map(j => 1 + (j % 4)).sum
      val n = rows * weight / total
      val r = (j: Int) => rnd(seed, 100 * k + j)
      val v: Column = k % 4 match {
        case 0 => r(1) % 1000
        case 1 => concat(lit("s"), (r(1) % 500).cast("string"))
        case 2 => struct((r(1) % 1000).as("x"), concat(lit("y"), (r(2) % 50).cast("string")).as("y"))
        case _ => array(r(1) % 100, r(2) % 100, r(3) % 100)
      }
      val a: Option[Column] = k % 3 match {
        case 0 => Some(struct(struct((r(4) % 1000).as("c"),
          concat(lit("d"), (r(5) % 20).cast("string")).as("d")).as("b")))
        case 1 => Some(concat(lit("a"), (r(4) % 30).cast("string")))
        case _ => None
      }
      val xs: Option[Column] =
        if (k % 2 == 0) Some(slice(array((1 to 4).map(j => r(10 + j) % 10): _*), lit(1),
          (r(9) % 4 + 1).cast("int")))
        else None
      val priv = (0 until privateFields).map { j =>
        val name = s"f${kindName(k)}_$j"
        (j % 3 match {
          case 0 => r(20 + j)
          case 1 => concat(lit("p"), (r(20 + j) % 100).cast("string"))
          case _ => (r(20 + j) % 10000).cast("double") / 8.0
        }).as(name)
      }
      val cols = Seq(
        timestamp_micros(lit(tsBaseMicros) + col("id") * 1000L + lit(k)).as("ts"),
        lit(kindName(k)).as("kind"),
        (r(0) % 100000).as("n"),
        v.as("v")) ++ a.map(_.as("a")) ++ xs.map(_.as("xs")) ++ priv
      Kind(k, kindName(k), n, spark.range(n).select(cols: _*))
    }

  /** Write every kind to its own ZNG stream (`threads` at a time), then
    * gather the part files into one directory: one multi-type ZNG input.
    */
  def writeMixedZng(kinds: Seq[Kind], dir: Path, threads: Int): Unit = {
    val staging = dir.resolveSibling(dir.getFileName.toString + ".staging")
    Files.createDirectories(dir)
    Util.parallel(threads)(kinds.map(kd => () =>
      graft.sources.ZngIO.write(kd.df.coalesce(1), staging.resolve(kd.name).toString)))
    kinds.foreach { kd =>
      Files.list(staging.resolve(kd.name)).toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith(".zng"))
        .foreach(p => Files.move(p, dir.resolve(s"${kd.name}-${p.getFileName}")))
    }
    Util.deleteTree(staging)
  }
}
