package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lang.Graft
import graft.sources.{Lake, ZeekIO, ZngIO, ZsonIO}

/** Layer probes: a single layer call over a workload's own input, each
  * timed three times, median reported. They run after a traced loop.
  */
object Probes {
  private def median3(f: => Unit): Double =
    Util.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    })

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `ZngIO.read` of a ZNG input into a no-op sink, in MB/s of file. */
  def zngDecode(b: Bench, path: Path): Double =
    Util.treeBytes(path) / 1e6 / (median3(noop(ZngIO.read(b.spark, path.toString))) / 1e3)

  /** `ZeekIO.read` of Zeek logs into a no-op sink, in MB/s of text. */
  def zeekDecode(b: Bench, path: Path): Double =
    Util.treeBytes(path) / 1e6 / (median3(noop(ZeekIO.read(b.spark, path.toString))) / 1e3)

  /** The variant accessors over a mixed-shape ZNG input (see
    * [[Gen.mixedKinds]] for its `v` and `a` columns): time and bytes
    * allocated per row. Each union column is read whole (`len`):
    * selecting only a scalar part of one (`typeOf(v)` alone, `v.z`, or a
    * chained get such as `a.b.c`) fails on ZNG input with a
    * ClassCastException in the engine, so the probe does not.
    */
  def variant(b: Bench, path: Path, rows: Long): Map[String, Double] = {
    import graft.functions.ZvOps
    import graft.operators.Het
    def run(): Unit = {
      val df = ZngIO.read(b.spark, path.toString)
      val (v, a) = (col("v"), col("a"))
      noop(df.select(
        Het.variantTypeOf(v).as("t"),
        ZvOps.len(v).getField("n").as("l"),
        ZvOps.index(v, lit(0)).getField("n").as("e0"),
        ZvOps.get(v, "x").getField("n").as("x"),
        ZvOps.len(a).getField("n").as("la"),
        ZvOps.get(a, "b").getField("t").as("tb")))
    }
    run()
    val samples = (1 to 3).map { _ =>
      val a0 = Alloc.total()
      val t0 = System.nanoTime()
      run()
      ((System.nanoTime() - t0) / 1e6, (Alloc.total() - a0).toDouble)
    }
    Map("variant.eval_ms" -> Util.median(samples.map(_._1)),
      "variant.alloc_bytes_per_row" -> Util.median(samples.map(_._2)) / rows)
  }

  private def timeMs[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e6, r)
  }

  /** The lake and the REST service, on seeded Zeek `conn` batches:
    *  - each batch is loaded over HTTP (`POST /pool/probe/branch/main`,
    *    `application/x-zeek`) and, as its twin, decoded with `ZeekIO.read`
    *    and committed with a direct `Lake.load` into a second lake;
    *  - two queries run over HTTP (ZSON) and directly with the same
    *    output; the answers must match each other and the generator's;
    *  - then a scan (journal replay), a compaction and a vacuum.
    */
  def lakeService(b: Bench): Map[String, Double] = {
    val spark = b.spark
    val base = b.dir.resolve("probe-lake")
    Util.deleteTree(base)
    val root = base.resolve("lake").toString
    val directRoot = base.resolve("direct").toString
    val zeekDir = base.resolve("zeek")
    val perBatch = 20000L
    val batches = (0 until 3).map { i =>
      val f = zeekDir.resolve(s"batch-$i.log")
      (f, Gen.writeZeek(Gen.conn(spark, b.seed, i * perBatch, (i + 1) * perBatch), f))
    }
    val zeekBytes = batches.map(_._2).sum.toDouble
    val svc = new graft.Service(spark, "", 0, Some(root))
    val port = svc.start()
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def post(path: String, body: Array[Byte], ctype: String): Array[Byte] = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", ctype).header("Accept", "application/x-zson")
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
      if (resp.statusCode() / 100 != 2)
        throw new Mismatch(s"POST $path: status ${resp.statusCode()}: ${new String(resp.body(), "UTF-8").take(200)}")
      resp.body()
    }
    try {
      post("/pool", """{"name":"probe","layout":{"order":"desc","keys":[["ts"]]}}""".getBytes("UTF-8"),
        "application/json")
      Lake.create(directRoot, "probe", Some("ts"))
      val httpLoads = batches.map { case (f, _) =>
        timeMs(post("/pool/probe/branch/main", java.nio.file.Files.readAllBytes(f), "application/x-zeek"))._1
      }
      val directLoads = batches.map { case (f, _) =>
        val decoded = ZeekIO.read(spark, f.toString).cache()
        decoded.count()
        try timeMs(Lake.load(decoded, directRoot, "probe"))._1 finally decoded.unpersist()
      }

      val needle = Gen.conn(spark, b.seed, 12345, 12346).select("uid").head().getString(0)
      val queries = Seq("from probe | count() by proto", s"""from probe | uid=="$needle"""")
      def http(q: String): String =
        new String(post("/query", ("{\"query\":\"" + q.replace("\"", "\\\"") + "\"}").getBytes("UTF-8"),
          "application/json"), "UTF-8")
      var files = 0.0
      def direct(q: String): String = {
        spark.conf.set("graft.lake.root", root)
        try {
          val zson = ZsonIO.toZson(Graft.query(spark, root, q))
          val out = new StringBuilder
          val it = zson.toLocalIterator()
          while (it.hasNext) out ++= it.next() += '\n'
          files = PlanMetrics.sum(zson.toDF(), Set("numFiles"))("numFiles").toDouble
          out.toString
        } finally spark.conf.unset("graft.lake.root")
      }
      val byProto = """proto:"([^"]+)",count:(\d+)""".r
      val want = Gen.conn(spark, b.seed, 0, 3 * perBatch).groupBy("proto").count().collect()
        .map(r => s"${r.getString(0)}|${r.getLong(1)}").sorted.toSeq
      val got = byProto.findAllMatchIn(http(queries.head)).map(m => s"${m.group(1)}|${m.group(2)}").toSeq.sorted
      Check.expectLines("lake count() by proto", got, want)
      queries.foreach(q => Check.expectEq(s"service vs direct: $q", http(q), direct(q)))
      if (!http(queries(1)).contains(needle)) throw new Mismatch("lake uid lookup found no row")
      val overheads = queries.map(q => median3(http(q): Unit) - median3(direct(q): Unit))
      val responseBytes = queries.map(q => http(q).getBytes("UTF-8").length.toDouble)
      val scanMs = median3(Lake.scan(spark, root, "probe"): Unit)
      direct(queries.head)

      val (compactMs, id) = timeMs(Lake.compact(spark, directRoot, "probe"))
      val rewritten = Util.treeBytes(base.resolve("direct").resolve("probe").resolve("data").resolve(id))
      post(s"/compact?root=$root&pool=probe", Array.emptyByteArray, "application/json")
      post(s"/vacuum?root=$root&pool=probe", Array.emptyByteArray, "application/json")
      Map(
        "sources.zeek_decode_mb_per_s" -> zeekDecode(b, zeekDir),
        "lake.load_ms" -> Util.median(directLoads), "lake.scan_ms" -> scanMs,
        "lake.compact_ms" -> compactMs,
        "lake.live_objects" -> Lake.commitsOn(root, "probe", "main").count(_.kind == "commit").toDouble,
        "lake.files_read_per_query" -> files,
        "lake.bytes_rewritten_per_input_byte" -> rewritten / zeekBytes,
        "service.overhead_ms" -> Util.median(overheads),
        "service.response_bytes_per_query" -> responseBytes.sum / responseBytes.length,
        "ingest_mb_per_s" -> zeekBytes / 1e6 / (httpLoads.sum / 1e3),
        "stored_bytes_per_input_byte" -> Util.treeBytes(base.resolve("lake").resolve("probe")) / zeekBytes)
    } finally svc.stop()
  }
}
