package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sinks.BulkHttpSink
import graft.streaming.{ComposedEtlPipeline, IncrementalPostings, IncrementalVectors}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `cdc_tick`: the composed ETL tick over a seeded, append-only change feed,
  * delivering each tick's documents to an in-process ES bulk stub. One poll
  * thread; timed ticks alternate a small (10 ids) and a large (1,000 ids)
  * batch.
  */
object CdcTick {

  val KeySpace = 20000
  val ZipfS = 1.0
  val Small = 10
  val Large = 1000
  val RewriteShare = 0.1
  val MaxPairs = 3
  private val BaseMicros = 1704067200000000L // 2024-01-01 00:00:00 UTC

  val FeedSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType),
    StructField("label", IntegerType), StructField("v", ArrayType(DoubleType)),
    StructField("modified", TimestampType)))

  /** Seeded change batches: Zipf-skewed ids over the key space, text from
    * `documents` rows, label and vector from `embeddings` rows, and about
    * 10% extra changes that rewrite an id already in the batch.
    */
  final class FeedGen(seed: Long, texts: IndexedSeq[String],
                      vecs: IndexedSeq[(Int, Seq[Double])]) {
    private val rng = new scala.util.Random(seed)
    private val idOfRank = rng.shuffle((0 until KeySpace).map(_.toLong)).toIndexedSeq
    private val cdf = {
      val w = (1 to KeySpace).map(k => 1.0 / math.pow(k, ZipfS))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last).toArray
    }
    private def zipfId(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      idOfRank(math.min(KeySpace - 1, if (i >= 0) i else -i - 1))
    }
    private var batchNo = 0

    private def change(id: Long, micros: Long): Row = {
      val (label, v) = vecs(rng.nextInt(vecs.size))
      Row(id, texts(rng.nextInt(texts.size)), label, v,
        org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(micros))
    }

    /** The next batch: `ids` (all of the key space when None) distinct ids,
      * each changed once, plus the rewrites. Returns the rows and the ids.
      */
    def next(ids: Option[Int]): (Seq[Row], Set[Long]) = {
      batchNo += 1
      val base = BaseMicros + batchNo * 1000000000L
      val chosen = ids match {
        case None => (0 until KeySpace).map(_.toLong)
        case Some(n) =>
          val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
          while (seen.size < n) seen += zipfId()
          seen.toIndexedSeq
      }
      val first = chosen.zipWithIndex.map { case (id, j) => change(id, base + j) }
      val rewrites = if (ids.isEmpty) Nil else
        (0 until math.round(chosen.size * RewriteShare).toInt).map { j =>
          change(chosen(rng.nextInt(chosen.size)), base + chosen.size + j)
        }
      (first ++ rewrites, chosen.toSet)
    }
  }

  /** In-process ES bulk endpoint: counts requests, documents and bytes, and
    * rejects (per item, status 400) any `_id` outside the current tick's
    * dirty batch.
    */
  final class EsStub {
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val requests, docs, bytes, retries = new AtomicLong
    @volatile var dirty: Set[String] = Set.empty
    val delivered: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]
    private val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.createContext("/", (x: HttpExchange) => {
      val body = x.getRequestBody.readAllBytes()
      requests.incrementAndGet()
      bytes.addAndGet(body.length)
      def send(code: Int, s: String): Unit = {
        val b = s.getBytes("UTF-8")
        x.sendResponseHeaders(code, b.length); x.getResponseBody.write(b); x.close()
      }
      if (x.getRequestMethod == "PUT") send(200, """{"acknowledged":true}""")
      else {
        var errors = false
        val items = new String(body, "UTF-8").split("\n").filter(_.nonEmpty).grouped(2).map { pair =>
          val id = mapper.readTree(pair(0)).path("index").path("_id").asText()
          docs.incrementAndGet()
          if (!dirty.contains(id)) {
            violations.add(id); errors = true
            s"""{"index":{"_id":"$id","status":400,"error":{"type":"not_in_dirty_batch"}}}"""
          } else {
            if (!delivered.add(id)) retries.incrementAndGet()
            s"""{"index":{"_id":"$id","status":201}}"""
          }
        }.toSeq
        send(200, s"""{"errors":$errors,"items":[${items.mkString(",")}]}""")
      }
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = {
      server.stop(0)
      server.getExecutor.asInstanceOf[java.util.concurrent.ExecutorService].shutdownNow()
    }
  }

  /** Bytes per file under `dirs`, for the bytes a tick writes. */
  private def files(dirs: Seq[String]): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
      else Seq(f)
    dirs.flatMap(d => walk(new java.io.File(d)))
      .map(f => f.getPath -> (f.length, f.lastModified)).toMap
  }

  def run(spark: SparkSession, o: Opts, trace: Trace): Outcome = {
    val docs = graft.Tables.documents(spark, o.data).select("text").collect()
      .map(_.getString(0)).toIndexedSeq
    val embs = graft.Tables.embeddings(spark, o.data)
      .select(col("label"), col("embedding").cast("array<double>")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toIndexedSeq
    // the same 8-centroid codebook as the q_composed_tick query
    val codebook = graft.Tables.embeddings(spark, o.data)
      .filter(col("vec_id") < 8).orderBy("vec_id")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    val gen = new FeedGen(o.seed, docs, embs)
    val root = s"${o.scratch}/cdc"
    val feedDir = s"$root/feed"
    val stub = new EsStub
    val failures = ArrayBuffer.empty[String]
    var attempted = 0L

    /** Append one batch to the feed as its own parquet file. */
    var nBatches = 0
    def append(rows: Seq[Row]): Unit = {
      nBatches += 1
      val tmp = s"$root/feed-staging"
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), FeedSchema)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles.find(_.getName.startsWith("part-")).get
      new java.io.File(feedDir).mkdirs()
      java.nio.file.Files.move(part.toPath,
        new java.io.File(feedDir, f"batch-$nBatches%05d.parquet").toPath)
    }
    val changes: SparkSession => DataFrame =
      s => s.read.schema(FeedSchema).parquet(feedDir)
    // documents are rebuilt from the feed: the latest text of each dirty id
    val docBuilder: (SparkSession, DataFrame) => DataFrame = (s, ids) =>
      changes(s).join(ids, Seq("id"), "left_semi")
        .groupBy("id").agg(max(struct(col("modified"), col("text"))).as("m"))
        .select(col("id"), col("m.text").as("text"), col("m.modified").as("modified"))

    // stage marks of the tick in flight (poll thread only)
    val marks = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var deliverMs = 0.0
    def pipeline(dir: String, wired: Boolean): ComposedEtlPipeline = {
      val deliver: (SparkSession, DataFrame) => Unit =
        if (!wired) graft.streaming.IncrementalDocPipeline.NoDeliver
        else (_, d) => {
          val t = System.nanoTime()
          trace.span("sinks.deliver")(BulkHttpSink.post(d, stub.url, "docs", "id", maxRetries = 1))
          deliverMs += (System.nanoTime() - t) / 1e6
        }
      val builder: (SparkSession, DataFrame) => DataFrame = (s, ids) => {
        marks("built") = System.nanoTime(); docBuilder(s, ids)
      }
      new ComposedEtlPipeline(changes, builder, codebook, s"$dir/docs", s"$dir/postings",
        s"$dir/vectors", s"$dir/state", deliver = deliver) {
        override protected def afterStage(stage: String): Unit =
          marks(stage) = System.nanoTime()
      }
    }
    val stores = Seq("docs", "postings", "vectors", "state").map(s => s"$root/store/$s")
    val live = pipeline(s"$root/store", wired = true)

    final case class TickStat(stages: Map[String, Double], changes: Long, dirty: Long,
                              written: Long, storeBytes: Long)
    val stats = ArrayBuffer.empty[TickStat]
    var opSeq = 0
    // ids appended to the feed that no tick has absorbed yet: a tick that
    // throws leaves the watermark where it was, so the next tick absorbs
    // its batch too
    val pending = scala.collection.mutable.Set.empty[Long]

    /** One tick over a fresh batch; the batch is written before the clock
      * starts. Returns the tick's wall in ms.
      */
    def tick(size: Option[Int], label: String): Option[Double] = {
      val (rows, batch) = gen.next(size)
      append(rows)
      pending ++= batch
      val ids = pending.toSet
      stub.dirty = ids.map(_.toString)
      stub.delivered.clear()
      val before = if (trace.enabled) files(stores) else Map.empty[String, (Long, Long)]
      marks.clear()
      deliverMs = 0.0
      opSeq += 1
      attempted += 1
      val t = System.nanoTime()
      val n = try trace.op(spark, s"$label$opSeq:${rows.size}") {
        trace.phase(spark, "exec")
        trace.span("exec") {
          val n = live.tick(spark)
          val end = System.nanoTime()
          val seq = ("start" -> t) +: marks.toSeq :+ ("end" -> end)
          seq.sliding(2).foreach { case Seq((_, a), (stage, b)) =>
            trace.record(s"streaming.${stageName(stage)}", a, b)
          }
          n
        }
      } catch {
        case e: Exception =>
          failures += s"$label tick of ${ids.size} ids: $e".take(300)
          return None
      }
      val ms = (System.nanoTime() - t) / 1e6
      pending.clear()
      val delivered = stub.delivered.asScala.toSet
      if (n != ids.size) failures += s"$label tick absorbed $n ids, batch has ${ids.size}"
      if (delivered != stub.dirty)
        failures += s"$label tick delivered ${delivered.size} ids, batch has ${ids.size}"
      stub.violations.asScala.headOption.foreach { id =>
        failures += s"$label tick delivered _id $id outside its batch"
        stub.violations.clear()
      }
      if (trace.enabled) {
        val after = files(stores)
        val written = after.collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum
        val ts = ("start" -> t) +: marks.toSeq
        val stages = ts.sliding(2).map { case Seq((_, a), (stage, b)) =>
          stageName(stage) -> (b - a) / 1e6 }.toMap
        val commitStart = marks.values.lastOption.getOrElse(t)
        stats += TickStat(stages ++ Map("commit" -> (ms - (commitStart - t) / 1e6),
          "deliver" -> deliverMs), rows.size, n, written, after.values.map(_._1).sum)
      }
      Some(ms)
    }

    // set-up: bootstrap the stores with one tick over the whole key space,
    // then one small tick to warm the incremental path (a tick costs about
    // as much whatever its batch size; a large warm-up tick as well added
    // 5 s to every run without making the first timed ticks steadier)
    Main.log(o, "inputs loaded")
    tick(None, "bootstrap")
    tick(Some(Small), "warmup")
    Main.log(o, "bootstrap and warm-up ticks done")
    stats.clear()
    val sinkBase = Seq(stub.requests.get, stub.docs.get, stub.bytes.get, stub.retries.get)
    val setupS = Main.sinceLaunchS(o)

    val small = ArrayBuffer.empty[Double]
    val large = ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    var tickMs = 0.0
    // small/large pairs until the budget is spent; past it, up to MaxPairs
    // pairs while a size has no completed tick, so failing ticks end the
    // loop and show as failed operations
    var pairs = 0
    while ((System.nanoTime() - start) / 1e9 < o.seconds ||
           (small.isEmpty || large.isEmpty) && pairs < MaxPairs) {
      tick(Some(Small), "small").foreach { ms => small += ms; tickMs += ms }
      tick(Some(Large), "large").foreach { ms => large += ms; tickMs += ms }
      pairs += 1
    }
    val mem = Main.memory()
    val nTicks = small.size + large.size
    Main.log(o, s"timed ticks done: ${small.mkString(",")} / ${large.mkString(",")}")
    val sinkCounts = Seq(stub.requests.get, stub.docs.get, stub.bytes.get, stub.retries.get)
      .zip(sinkBase).map { case (a, b) => (a - b).toDouble }
    stub.stop()

    // end state: the three stores and the watermark must equal one tick
    // over the whole feed into empty stores
    attempted += 1
    try {
      val fresh = pipeline(s"$root/rebuild", wired = false)
      fresh.tick(spark)
      def same(a: DataFrame, b: DataFrame) = {
        val cols = a.columns.sorted.map(col)
        val (x, y) = (a.select(cols: _*), b.select(cols: _*))
        a.columns.sorted.sameElements(b.columns.sorted) &&
          x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
      }
      val mismatched = Seq(
        "docs" -> same(spark.read.parquet(s"$root/store/docs"), spark.read.parquet(s"$root/rebuild/docs")),
        "postings" -> same(IncrementalPostings.load(spark, s"$root/store/postings"),
          IncrementalPostings.load(spark, s"$root/rebuild/postings")),
        "vectors" -> same(IncrementalVectors.load(spark, s"$root/store/vectors"),
          IncrementalVectors.load(spark, s"$root/rebuild/vectors")),
        "watermark" -> (live.currentWatermark(spark) == fresh.currentWatermark(spark)))
        .collect { case (name, false) => name }
      if (mismatched.nonEmpty)
        failures += s"end state differs from a rebuild of the feed: ${mismatched.mkString(", ")}"
    } catch { case e: Exception => failures += s"end-state rebuild: $e".take(300) }
    Main.log(o, "end state checked")

    // a size with no completed tick has no latency: its metrics are left out
    def p50(xs: ArrayBuffer[Double]) = xs.headOption.map(_ => Main.median(xs.toSeq))
    val layer = if (!trace.enabled) Map.empty[String, Double] else {
      val n = stats.size.toDouble
      def mean(f: TickStat => Double) = stats.map(f).sum / math.max(1.0, n)
      val timed = (op: String) => op.startsWith("small") || op.startsWith("large")
      val spans = trace.allSpans
      Main.spanMeans(spans, Map("exec" -> "exec.ms",
        "catalyst.analysis" -> "catalyst.analysis_ms",
        "catalyst.optimization" -> "catalyst.optimization_ms",
        "catalyst.planning" -> "catalyst.planning_ms"), stats.size.toLong, timed) ++
        Main.execLayer(trace, "exec", stats.size.toLong, timed) ++
        Seq("detect", "docs", "postings", "vectors", "commit").map(s =>
          s"streaming.${s}_ms" -> mean(_.stages.getOrElse(s, 0.0))) ++ Map(
        "streaming.changes" -> mean(_.changes.toDouble),
        "streaming.dirty_ids" -> mean(_.dirty.toDouble),
        "streaming.bytes_written" -> mean(_.written.toDouble),
        "streaming.bytes_per_id" -> stats.map(_.written).sum.toDouble / math.max(1L, stats.map(_.dirty).sum),
        "streaming.store_bytes" -> mean(_.storeBytes.toDouble),
        "sinks.deliver_ms" -> mean(_.stages.getOrElse("deliver", 0.0)),
        "sinks.requests" -> sinkCounts(0) / n, "sinks.docs" -> sinkCounts(1) / n,
        "sinks.bytes" -> sinkCounts(2) / n, "sinks.retries" -> sinkCounts(3) / n)
    }
    val tickRate = if (nTicks == 0) None else Some(nTicks / (tickMs / 1000.0))
    Outcome(
      e2e = ListMap("setup_s" -> (setupS, "s")) ++ mem ++
        p50(small).map(v => "p50_ms" -> (v, "ms")) ++
        p50(large).map(v => "tail_ms" -> (v, "ms")) ++
        tickRate.map(v => "ops_per_s" -> (v, "1/s")),
      named = ListMap("setup_s" -> (setupS, "s")) ++ mem ++
        p50(small).map(v => "cdc.small_p50_ms" -> (v, "ms")) ++
        p50(large).map(v => "cdc.large_p50_ms" -> (v, "ms")) ++
        ListMap("cdc.ticks" -> (nTicks.toDouble, "count")),
      layer = layer,
      attempted = attempted,
      failures = failures.toSeq)
  }

  /** The stage a mark closes: a mark named after a stage ends it. */
  private def stageName(mark: String): String = mark match {
    case "built" => "detect"
    case "end" => "commit"
    case other => other
  }
}
