package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import graft.ops.{QueryStringOps, SearchOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `search_serve`: ES-style requests from `Clients` closed-loop callers, each
  * request's top-k collected to the driver.
  *
  * Every request belongs to a face that has two backends (a corpus scan and
  * a postings probe, or for bm25 the plain and the bucketed postings
  * layout); the request is served by one of them, half of each family per
  * backend.
  */
object SearchServe {

  val Clients = 4
  val Distinct = 198 // 22 requests for each of the 9 families
  val Warmup = 18 // two rounds of the nine families
  /** The tail quantile: a window holds about 50 requests, so the 75th
    * percentile has about a dozen requests beyond it.
    */
  val TailQ = 0.75

  type Face = (SparkSession, String) => DataFrame

  /** One generated request: its family, the backend that serves it
    * ("scan" or "index"), whether it holds a rare term, its text, and the
    * two backend calls.
    */
  final case class Request(id: Int, family: String, backend: String, rare: Boolean,
                           text: String, scan: Face, index: Face) {
    def serve: Face = if (backend == "scan") scan else index
    def other: Face = if (backend == "scan") index else scan
  }

  /** The corpus vocabulary with document frequencies (stopwords removed),
    * and the number of documents. One plain scan; the counting runs on the
    * driver, so set-up does not pay for a cold aggregation plan.
    */
  def vocabulary(spark: SparkSession, data: String): (Seq[(String, Long)], Long) = {
    val texts = graft.Tables.documents(spark, data).select("text").collect().map(_.getString(0))
    val df = texts.iterator
      .flatMap(t => Option(t).toSeq.flatMap(_.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct))
      .toSeq.groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
    (df.filter { case (w, _) => SearchOps.analyzeQuery(w).nonEmpty }, texts.length.toLong)
  }

  /** A one-edit misspelling (substitution, deletion or transposition). */
  private def typo(rng: scala.util.Random, w: String): String = {
    val i = rng.nextInt(w.length)
    rng.nextInt(3) match {
      case 0 => w.updated(i, (('a' + (w(i) - 'a' + 1 + rng.nextInt(24)) % 26)).toChar)
      case 1 if w.length > 3 => w.patch(i, "", 1)
      case _ if i + 1 < w.length => w.patch(i, s"${w(i + 1)}${w(i)}", 2)
      case _ => w + "e"
    }
  }

  /** The request mix, in cycle order: 22 requests per family, half per
    * backend, a third of each family's requests holding a rare term
    * (document frequency under 10% of the corpus).
    */
  def requests(seed: Long, vocab: Seq[(String, Long)], nDocs: Long): Seq[Request] = {
    val rng = new scala.util.Random(seed)
    val (rareV, commonV) = vocab.partition(_._2 < nDocs / 10)
    require(rareV.nonEmpty && commonV.size >= 4, s"vocabulary too small: $vocab")
    val rare = rareV.map(_._1).toIndexedSeq
    val common = commonV.map(_._1).toIndexedSeq
    val langs = IndexedSeq("en", "de", "fr", "es", "zh")
    def pick(xs: IndexedSeq[String]) = xs(rng.nextInt(xs.size))
    /** n distinct terms, the first rare when asked */
    def terms(n: Int, withRare: Boolean): Seq[String] = {
      val cs = rng.shuffle(common).take(if (withRare) n - 1 else n)
      if (withRare) rng.shuffle(pick(rare) +: cs) else cs
    }
    /** The i-th request's choice among k shapes, shifted every third
      * request so that it does not move in step with the rare term.
      */
    def vary(i: Int, k: Int) = (i + i / 3) % k
    val families: Seq[(String, (Int, Boolean) => (String, Face, Face))] = Seq(
      "match" -> { (i, r) =>
        val q = terms(1 + vary(i, 3), r).mkString(" ")
        (q, SearchOps.matchQuery(_, _, q), SearchOps.matchQueryIndexed(_, _, q))
      },
      "bool" -> { (i, r) =>
        val ts = terms(4, r)
        val (must, should, not, lang) = (ts(0), ts.slice(1, 2 + vary(i, 2)).mkString(" "),
          ts(3), pick(langs))
        (s"must=$must should=$should must_not=$not lang=$lang",
          SearchOps.boolQuery(_, _, must, should, not, lang),
          SearchOps.boolQueryIndexed(_, _, must, should, not, lang))
      },
      "fuzzy" -> { (i, r) =>
        val q = terms(1 + vary(i, 2), r).map(typo(rng, _)).mkString(" ")
        (q, SearchOps.fuzzyQuery(_, _, q), SearchOps.fuzzySearchIndexed(_, _, q))
      },
      "multifield" -> { (i, r) =>
        val q = terms(1 + vary(i, 3), r).map(typo(rng, _)).mkString(" ")
        (q, SearchOps.multiFieldFuzzy(_, _, q), SearchOps.multiFieldFuzzyIndexed(_, _, q))
      },
      "phrase" -> { (i, r) =>
        val q = terms(2 + vary(i, 2), r).mkString(" ")
        (q, SearchOps.phraseSearch(_, _, q), SearchOps.phraseSearchIndexed(_, _, q))
      },
      "boosting" -> { (i, r) =>
        val ts = terms(3, r)
        val (pos, neg) = (ts.take(1 + vary(i, 2)).mkString(" "), ts(2))
        (s"positive=$pos negative=$neg", SearchOps.boostingQuery(_, _, pos, neg),
          SearchOps.boostingQueryIndexed(_, _, pos, neg))
      },
      "rank_feature" -> { (i, r) =>
        val q = terms(1 + vary(i, 2), r).mkString(" ")
        (q, SearchOps.rankFeatureSearch(_, _, q), SearchOps.rankFeatureSearchIndexed(_, _, q))
      },
      "query_string" -> { (i, r) =>
        val t = terms(3, r)
        val q = vary(i, 6) match {
          case 0 => s"${t(0)} AND ${t(1)}"
          case 1 => s"${t(0)} OR ${t(1)}"
          case 2 => s"${t(0)} AND NOT ${t(1)}"
          case 3 => s""""${t(0)} ${t(1)}""""
          case 4 => s"lang:${pick(langs)} AND (${t(0)} OR ${t(1)})"
          case _ => s"(${t(0)} OR ${t(1)}) AND ${t(2)}"
        }
        (q, QueryStringOps.queryString(_, _, q), QueryStringOps.queryStringIndexed(_, _, q))
      },
      "bm25" -> { (i, r) =>
        val q = terms(1 + vary(i, 3), r).mkString(" ")
        (q, SearchOps.bm25Search(_, _, q), SearchOps.bm25BucketedSearch(_, _, q))
      })
    // The seed picks only the terms, misspellings and languages. The shape
    // of each request comes from its position: the cycle deals the families
    // round-robin in a fixed order, and within a family the term count, the
    // query_string template, the backend (alternating, half the families
    // starting with each) and the rare term (every third request) follow
    // the request's index. So every stretch of the cycle has the same mix,
    // whatever the seed, and runs differ only in the words.
    val perFamily = Distinct / families.size
    val perFam = families.zipWithIndex.map { case ((family, gen), f) =>
      Seq.tabulate(perFamily) { i =>
        val rare = i % 3 == 0
        val (text, scan, index) = gen(i, rare)
        (family, if ((i + f) % 2 == 0) "scan" else "index", rare, text, scan, index)
      }
    }
    perFam.transpose.flatten.zipWithIndex.map { case ((f, b, r, t, s, i), id) =>
      Request(id, f, b, r, t, s, i)
    }
  }

  /** Two answers agree on the columns both carry, row by row. */
  def sameAnswer(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && (a.isEmpty || {
      val names = a.head.schema.fieldNames.filter(b.head.schema.fieldNames.contains)
      def proj(rows: Seq[Row]) = rows.map(r => names.toSeq.map(n => r.get(r.fieldIndex(n))))
      names.nonEmpty && proj(a) == proj(b)
    })

  /** Run `body(i)` for i in 0 until n on `Clients` threads. */
  private def parallel(n: Int)(body: Int => Unit): Unit = {
    val next = new AtomicInteger
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = Seq.fill(Clients)(new Thread(() => {
      var i = next.getAndIncrement()
      while (i < n) {
        try body(i) catch { case t: Throwable => errors.add(t) }
        i = next.getAndIncrement()
      }
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(errors.peek).foreach(t => throw t)
  }

  def run(spark: SparkSession, o: Opts, trace: Trace): Outcome = {
    val (vocab, nDocs) = vocabulary(spark, o.data)
    val reqs = requests(o.seed, vocab, nDocs)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val attempted = new AtomicLong
    val opSeq = new AtomicInteger
    // op id → (backend, rarity, hits), for rows per hit
    val opInfo = new ConcurrentHashMap[String, (String, Boolean, Int)]

    /** One request served by `face`: construct, then collect the top-k. */
    def serve(r: Request, face: Face, prefix: String): Seq[Row] = {
      val op = s"$prefix${opSeq.incrementAndGet()}"
      val rows = trace.op(spark, op) {
        trace.phase(spark, "construct")
        val df = trace.span("construct")(face(spark, o.data))
        trace.phase(spark, "exec")
        trace.span("exec")(df.collect().toSeq)
      }
      opInfo.put(op, (r.backend, r.rare, rows.size))
      rows
    }

    // Responses are checked against the OTHER backend's answer to the same
    // request, compared on the columns both backends return (the indexed
    // phrase face omits `lang`). Answering all requests twice before the
    // clock starts would take over a minute on 4 cores, so the other backend
    // answers, after the timed window, every request the run served.
    val responses = new ConcurrentHashMap[Int, Seq[Row]]
    def record(r: Request, rows: Seq[Row], when: String): Unit = {
      val first = responses.putIfAbsent(r.id, rows)
      if (first != null && first != rows)
        failures.add(s"${r.family}/${r.backend} [${r.text}] $when: answer changed between calls")
    }
    def guarded(r: Request, what: String)(body: => Unit): Unit = {
      attempted.incrementAndGet()
      try body
      catch { case e: Exception => failures.add(s"${r.family}/${r.backend} [${r.text}] $what: $e".take(300)) }
    }

    // set-up: the first Warmup requests of the cycle (the ones the timed
    // window starts with) served by their own backend, Clients at a time.
    // These first calls build the served stores the window reads; the other
    // backend's stores are built after the window, by the correctness check.
    Main.log(o, s"${reqs.size} requests generated")
    val before = Main.storeInventory(o).keySet
    val t0 = System.nanoTime()
    val warm = reqs.take(Warmup)
    parallel(warm.size)(i => guarded(warm(i), "warm-up")(record(warm(i), serve(warm(i), warm(i).serve, "warm"), "warm-up")))
    val buildMs = if ((Main.storeInventory(o).keySet -- before).nonEmpty) (System.nanoTime() - t0) / 1e6 else 0.0
    Main.log(o, s"warm-up over ${warm.size} requests done")
    val stores = Main.storeInventory(o)
    val setupS = Main.sinceLaunchS(o)

    // timed: closed loop, Clients callers taking the requests in cycle order
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]
    val cursor = new AtomicInteger
    val start = System.nanoTime()
    val deadline = start + (o.seconds * 1e9).toLong
    val callers = Seq.fill(Clients)(new Thread(() => {
      while (System.nanoTime() < deadline) {
        val r = reqs(cursor.getAndIncrement() % reqs.size)
        guarded(r, "timed") {
          val t = System.nanoTime()
          val rows = serve(r, r.serve, "t")
          lat.add((System.nanoTime() - t) / 1e6)
          record(r, rows, "timed")
        }
      }
    }))
    callers.foreach(_.start())
    callers.foreach(_.join())
    val elapsedS = (System.nanoTime() - start) / 1e9
    val mem = Main.memory()
    val ms = lat.asScala.map(_.doubleValue).toSeq
    require(ms.nonEmpty, "no request completed")
    Main.log(o, s"timed window done: ${ms.size} requests")

    // correctness: every request served, against the other backend's answer
    val served = reqs.filter(r => responses.containsKey(r.id))
    parallel(served.size) { i =>
      val r = served(i)
      guarded(r, "other backend") {
        val want = serve(r, r.other, "expect")
        val got = responses.get(r.id)
        if (!sameAnswer(got, want))
          failures.add(s"${r.family}/${r.backend} [${r.text}]: got ${got.size} rows " +
            s"${got.take(3).mkString(",")}, other backend ${want.size} rows ${want.take(3).mkString(",")}")
      }
    }
    Main.log(o, s"${served.size} answers checked")
    val qps = ms.size / elapsedS

    val layer = if (!trace.enabled) Map.empty[String, Double] else {
      val timed = (op: String) => op.startsWith("t")
      val rowsPerHit = for (b <- Seq("scan", "index"); rare <- Seq(true, false)) yield {
        val ops = opInfo.asScala.filter { case (op, (ob, orare, _)) =>
          timed(op) && ob == b && orare == rare }
        val input = ops.keys.map(op => Option(trace.exec.get((op, "exec")))
          .map(_.inputRows.get).getOrElse(0L)).sum
        val hits = ops.values.map(_._3.toLong).sum
        s"search.rows_per_hit.$b.${if (rare) "rare" else "common"}" ->
          input.toDouble / math.max(1L, hits)
      }
      val hits = opInfo.asScala.collect { case (op, (_, _, n)) if timed(op) => n.toDouble }
      Main.queryLayers(trace, timed, ms.size.toLong) ++ rowsPerHit ++ Map(
        // a collect writes nothing: its output is the rows it returns
        "exec.output_rows" -> hits.sum / math.max(1, hits.size),
        "stores.build_ms" -> buildMs,
        "stores.count" -> stores.size.toDouble,
        "stores.bytes" -> stores.values.sum.toDouble)
    }
    Outcome(
      e2e = ListMap("setup_s" -> (setupS, "s")) ++ mem ++ ListMap(
        "p50_ms" -> (Main.median(ms), "ms"),
        "tail_ms" -> (Main.quantile(ms, TailQ), "ms"),
        "ops_per_s" -> (qps, "1/s")),
      named = ListMap("setup_s" -> (setupS, "s")) ++ mem ++ ListMap(
        "search.p50_ms" -> (Main.median(ms), "ms"),
        "search.p75_ms" -> (Main.quantile(ms, TailQ), "ms"),
        "search.p90_ms" -> (Main.quantile(ms, 0.9), "ms"),
        "search.requests" -> (ms.size.toDouble, "count"),
        "search.qps" -> (qps, "req/s"),
        "search.distinct_requests" -> (reqs.size.toDouble, "count")),
      layer = layer,
      attempted = attempted.get,
      failures = failures.asScala.toSeq)
  }
}
