package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `suite`: the library's operator surface, one `SparkEntry.queries` entry
  * per operation, closed loop with one client. Each pass runs every query
  * once into the `noop` sink, in a seed-shuffled order.
  */
object Suite {

  def run(spark: SparkSession, o: Opts, trace: Trace): Outcome = {
    val all = graft.SparkEntry.queries
    val names = all.keys.toSeq.sorted
    val rng = new scala.util.Random(o.seed)
    val failures = ArrayBuffer.empty[String]
    var attempted = 0L
    var opSeq = 0

    /** One operation: build the DataFrame (ops layer), then run the action
      * (exec layer). Returns the wall in ms, or None when it threw.
      */
    def once(name: String, prefix: String)(action: DataFrame => Unit): Option[Double] = {
      opSeq += 1
      val t = System.nanoTime()
      try {
        trace.op(spark, s"$prefix$opSeq:$name") {
          trace.phase(spark, "construct")
          val df = trace.span("construct")(all(name)(spark, o.data))
          trace.phase(spark, "exec")
          trace.span("exec")(action(df))
        }
        Some((System.nanoTime() - t) / 1e6)
      } catch {
        case e: Exception =>
          failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          None
      }
    }
    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

    // set-up: one pass that writes every output for the correctness check
    // (run.py compares it with the stored DuckDB answers), then one warm-up
    // pass into the sink. Store builds happen here, on first use.
    var buildMs = 0.0
    for (name <- rng.shuffle(names)) {
      val before = Main.storeInventory(o).keySet
      val ms = once(name, "check") { df =>
        df.write.mode("overwrite").parquet(s"${o.outputs}/$name")
      }
      attempted += 1
      if (ms.isDefined && (Main.storeInventory(o).keySet -- before).nonEmpty)
        buildMs += ms.get
    }
    Main.log(o, "check pass done")
    for (name <- rng.shuffle(names)) once(name, "warm")(noop)
    Main.log(o, "warm-up pass done")
    val stores = Main.storeInventory(o)
    val setupS = Main.sinceLaunchS(o)

    // timed passes: whole passes until the budget is spent
    val walls = names.map(_ -> ArrayBuffer.empty[Double]).toMap
    val start = System.nanoTime()
    var passes = 0
    while (passes == 0 || (System.nanoTime() - start) / 1e9 < o.seconds) {
      for (name <- rng.shuffle(names)) {
        attempted += 1
        once(name, "t")(noop).foreach(walls(name) += _)
      }
      passes += 1
    }
    val elapsedS = (System.nanoTime() - start) / 1e9
    val mem = Main.memory()
    val med = names.flatMap(n => walls(n).headOption.map(_ => n -> Main.median(walls(n).toSeq)))
    require(med.nonEmpty, "every suite query failed")
    val perQuery = med.map(_._2)
    val done = walls.values.map(_.size).sum

    val layer = if (!trace.enabled) Map.empty[String, Double] else
      Main.queryLayers(trace, _.startsWith("t"), done.toLong) ++ Map(
        "stores.build_ms" -> buildMs, "stores.count" -> stores.size.toDouble,
        "stores.bytes" -> stores.values.sum.toDouble)
    Outcome(
      e2e = ListMap("setup_s" -> (setupS, "s")) ++ mem ++ ListMap(
        "p50_ms" -> (Main.median(perQuery), "ms"),
        "tail_ms" -> (Main.quantile(perQuery, 0.9), "ms"),
        "ops_per_s" -> (done / elapsedS, "1/s")),
      named = ListMap("setup_s" -> (setupS, "s")) ++ mem ++ ListMap(
        "suite.wall_s" -> (perQuery.sum / 1000.0, "s"),
        "suite.gmean_ms" -> (Main.gmean(perQuery), "ms"),
        "suite.queries" -> (names.size.toDouble, "count"),
        "suite.passes" -> (passes.toDouble, "count")),
      layer = layer,
      attempted = attempted,
      failures = failures.toSeq)
  }
}

/** Dumps `SparkEntry.oracleSql` (and the full query list) as JSON, for the
  * expected-answer tool.
  */
object OracleSql {
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(Json.obj(
      "queries" -> graft.SparkEntry.queries.keys.toSeq.sorted,
      "oracle_sql" -> ListMap(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1): _*)))
    finally w.close()
  }
}
