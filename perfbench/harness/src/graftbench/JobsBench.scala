package graftbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.jobs.Jobs
import graft.ops.{Incremental, Relational}
import graft.sources.JdbcUpsert
import graft.streaming.Streaming

/** The reference's three job requests against in-memory stores carried
  * from micro-batch to micro-batch, streamed through decode → route →
  * parse → job → JDBC upsert → completion payload at a fixed offered rate.
  */
final class JobsBench(run: Run) {
  import run.spark

  private val AssetTypes = array(lit("STOCK"), lit("CRYPTO"), lit("FOREX"))
  private val MarketSchema = StructType.fromDDL(
    "symbol STRING, asset_type STRING, price DOUBLE, percent_change DOUBLE, change DOUBLE, " +
      "high DOUBLE, low DOUBLE, updated_at TIMESTAMP")
  private val MonthlySchema = StructType.fromDDL(
    "symbol STRING, asset_type STRING, date DATE, price DOUBLE")
  private val IndexSchema = StructType.fromDDL(
    "symbol STRING, price DOUBLE, price_change DOUBLE, percent_change DOUBLE, " +
      "price_high DOUBLE, price_low DOUBLE, updated_at TIMESTAMP")
  private val AssetSchema = StructType.fromDDL("symbol STRING, asset_type STRING")
  private val SymbolSchema = StructType.fromDDL("symbol STRING")

  private def empty(schema: StructType): DataFrame =
    spark.createDataFrame(java.util.List.of[Row](), schema)

  private var market = empty(MarketSchema)
  private var monthly = empty(MonthlySchema)
  private var index = empty(IndexSchema)

  /** Historical feed: one row per order — symbol C<custkey>, its catalog
    * asset type, order date and total price as the close.
    */
  private def series: DataFrame = Tables.orders(spark, run.data).select(
    concat(lit("C"), col("o_custkey").cast("string")).as("symbol"),
    element_at(AssetTypes, (col("o_custkey") % 3 + 1).cast("int")).as("asset_type"),
    col("o_orderdate").as("datetime"), col("o_totalprice").as("close"))

  /** Index feed: one quote per event user, from its first and last event. */
  private def indexQuotes(): DataFrame = {
    val order = struct(col("ts"), col("event_id"))
    Tables.events(spark, run.data).groupBy("user_id").agg(
      max_by(col("value"), order).as("last"), min_by(col("value"), order).as("first"),
      max("value").as("hi"), min("value").as("lo"))
      .select(
        concat(lit("^U"), col("user_id").cast("string")).as("symbol"),
        col("last").as("regularMarketPrice"),
        (col("last") - col("first")).as("regularMarketChange"),
        ((col("last") - col("first")) / col("first") * 100.0).as("regularMarketChangePercent"),
        col("hi").as("regularMarketDayHigh"), col("lo").as("regularMarketDayLow"))
      .localCheckpoint(true)
  }

  private var quotesForIndex: DataFrame = _

  /** Load the feeds and catalogs, and reset the stores and the JDBC tables;
    * repeated three times, the median is the run's set-up cost.
    */
  private def setup(): Unit = {
    run.put("setup_reps_s", (1 to 3).map { _ =>
      val t = run.nowMs()
      Tables.customer(spark, run.data).count()
      series.count()
      quotesForIndex = indexQuotes()
      market = empty(MarketSchema); monthly = empty(MonthlySchema); index = empty(IndexSchema)
      Derby.reset()
      (run.nowMs() - t) / 1e3
    })
  }

  /** One job call over `requests` at time `now`: plan, fetch and validate
    * inside the `Jobs` call, pin the new store, collect the completion.
    * Returns the completion payloads, the per-batch payload count and
    * (traced) the missing-key and store-row probes.
    */
  private def job(
      kind: String, requests: DataFrame, range: Option[(String, String)], now: Column,
      opId: String, traced: Boolean): Map[String, Any] = {
    val rec = mutable.LinkedHashMap[String, Any]("type" -> kind)
    if (traced) rec("missing") = run.probe("missing", opId)(kind match {
      case "market" => Incremental.needingUpdate(requests, market, Jobs.SnapshotKeys).count()
      case "index"  => Incremental.needingUpdate(requests, index, Seq("symbol")).count()
      case _ =>
        val (s, e) = range.get
        Incremental.gapDetection(requests, monthly.select("symbol", "asset_type", "date"),
          Seq("symbol", "asset_type"), "date", lit(s).cast("date"), lit(e).cast("date")).count()
    })
    val topic = kind match {
      case "market" => "MARKET_DATA_COMPLETE"
      case "index"  => "MARKET_INDEX_DATA_COMPLETE"
      case _        => "HISTORICAL_MARKET_DATA_COMPLETE"
    }
    val result = run.span(s"jobs.$kind.call", opId, traced)(kind match {
      case "market" =>
        val quotes = spark.read.format("graft.sources.QuoteSource")
          .option("symbols", requests.collect().map(r => s"${r.getString(0)}:${r.getString(1)}").mkString(","))
          .load()
        Jobs.marketDataUpdate(requests, market, quotes, now)
      case "index" => Jobs.indexUpdate(requests, index, quotesForIndex, now)
      case _ =>
        val (s, e) = range.get
        Jobs.historicalBackfill(requests, monthly, series, lit(s).cast("date"), lit(e).cast("date"))
    })
    val store = run.span("merge.upsert", opId, traced)(result.store.localCheckpoint(true))
    run.span(s"jobs.$kind.completion", opId, traced) {
      rec("payload") = Streaming.completionPayload(result.completion, topic)
        .select("value").collect().map(_.getString(0)).toSeq
      result.perBatch.foreach(pb => rec("per_batch") = pb.collect().length)
    }
    kind match {
      case "market" => market = store
      case "index"  => index = store
      case _        => monthly = store
    }
    if (traced) rec("store_rows") = run.probe("store_rows", opId)(store.count())
    rec.toMap
  }

  private def now(): Column = lit(new Timestamp(System.currentTimeMillis()))

  private def writeStores(): Unit = {
    val out = s"${run.work}/out"
    market.drop("updated_at").write.mode("overwrite").parquet(s"$out/market_store")
    monthly.write.mode("overwrite").parquet(s"$out/monthly_store")
    index.drop("updated_at").write.mode("overwrite").parquet(s"$out/index_store")
    run.put("outputs", out)
  }

  /** In-process Derby, the Postgres stand-in: the reference's three tables,
    * keyed as its ON CONFLICT targets are.
    */
  private object Derby {
    val url = "jdbc:derby:memory:graftbench;create=true"
    val tables: Seq[(String, Seq[String], Seq[String], String)] = Seq(
      ("market_data", Seq("symbol", "asset_type"),
        Seq("price", "percent_change", "change", "high", "low"),
        "\"symbol\" VARCHAR(32) NOT NULL, \"asset_type\" VARCHAR(16) NOT NULL, \"price\" DOUBLE, " +
          "\"percent_change\" DOUBLE, \"change\" DOUBLE, \"high\" DOUBLE, \"low\" DOUBLE"),
      ("market_data_monthly", Seq("symbol", "asset_type", "date"), Seq("price"),
        "\"symbol\" VARCHAR(32) NOT NULL, \"asset_type\" VARCHAR(16) NOT NULL, " +
          "\"date\" DATE NOT NULL, \"price\" DOUBLE"),
      ("market_index_data", Seq("symbol"),
        Seq("price", "price_change", "percent_change", "price_high", "price_low"),
        "\"symbol\" VARCHAR(32) NOT NULL, \"price\" DOUBLE, \"price_change\" DOUBLE, " +
          "\"percent_change\" DOUBLE, \"price_high\" DOUBLE, \"price_low\" DOUBLE"))
    val byJob: Map[String, (String, Seq[String], Seq[String], String)] =
      Map("market" -> tables(0), "historical" -> tables(1), "index" -> tables(2))

    def reset(): Unit = {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        tables.foreach { case (t, keys, _, cols) =>
          try st.execute(s"""DROP TABLE "$t"""") catch { case _: java.sql.SQLException => () }
          st.execute(s"""CREATE TABLE "$t" ($cols, PRIMARY KEY (${keys.map("\"" + _ + "\"").mkString(", ")}))""")
        }
      } finally conn.close()
    }

    def upsert(kind: String, rows: DataFrame): Unit = {
      val (t, keys, values, _) = byJob(kind)
      JdbcUpsert.upsertBatch(rows, url, t, keys, values)
    }

    def dump(out: String): Unit = tables.foreach { case (t, _, _, _) =>
      spark.read.format("jdbc").option("url", url).option("dbtable", "\"" + t + "\"").load()
        .write.mode("overwrite").parquet(s"$out/derby_$t")
    }
  }

  private val PayloadDdl =
    "req STRING, assets ARRAY<STRUCT<symbol: STRING, asset_type: STRING>>, " +
      "symbols ARRAY<STRING>, start_date STRING, end_date STRING"

  def stream(): Unit = {
    setup()
    val done = new ConcurrentHashMap[String, java.lang.Double]()
    val batches = java.util.Collections.synchronizedList(new java.util.ArrayList[Map[String, Any]]())
    val source = MemoryStream[(String, String)](Encoders.tuple(Encoders.STRING, Encoders.STRING), spark)
    val routed = Streaming.routeTopics(
      Streaming.decodeRequests(source.toDF().toDF("topic", "value")),
      Seq("MARKET_DATA_UPDATE_REQUEST" -> "market",
        "HISTORICAL_MARKET_DATA_REQUEST" -> "historical",
        "MARKET_INDEX_DATA_UPDATE_REQUEST" -> "index"))
    @volatile var timing = false
    val query = routed.writeStream
      .option("checkpointLocation", s"${run.work}/checkpoint")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val traced = run.trace && timing && id % 2 == 0
        val opId = s"b$id"
        val (groups, start, end) = run.op(opId)(run.span("batch", opId, traced) {
          microBatch(batch, opId, traced, done)
        })
        if (timing) batches.add(Map("id" -> id, "start_ms" -> start, "end_ms" -> end,
          "traced" -> traced, "groups" -> groups))
        ()
      }
      .start()
    val w = run.nowMs()
    val warm = messages("warm_messages")
    warm.map(_._1).distinct.foreach { due =>
      source.addData(warm.filter(_._1 == due).map(m => (m._2, m._3)): _*)
      query.processAllAvailable()
    }
    run.put("warmup_s", (run.nowMs() - w) / 1e3)
    done.clear()
    timing = true
    // open-loop feeder: the messages due together go out in one append at
    // their due time, however far behind the stream is; lateness is how far
    // the feeder itself slipped
    val timed = messages("messages")
    val t0 = run.nowMs()
    val sent = timed.map(_._1).distinct.flatMap { due =>
      val dueMsgs = timed.filter(_._1 == due)
      val wait = t0 + due - run.nowMs()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      source.addData(dueMsgs.map(m => (m._2, m._3)): _*)
      val at = run.nowMs() - t0
      dueMsgs.map(m => (m._4, due, at))
    }
    val reqs = sent.collect { case (Some(r), due, at) => (r, due, at) }
    val deadline = run.nowMs() + 60000
    while (reqs.exists(r => !done.containsKey(r._1)) && run.nowMs() < deadline) Thread.sleep(5)
    query.processAllAvailable()
    timing = false
    query.stop()
    run.put("t0_ms", t0)
    run.put("sent", sent.map { case (req, due, at) =>
      Map("req" -> req.orNull, "due_ms" -> due, "sent_ms" -> at) })
    run.put("done", done.asScala.map { case (k, v) => k -> (v - t0) }.toMap)
    run.put("batches", batches.asScala.toSeq.sortBy(_("id").asInstanceOf[Long]))
    writeStores()
    Derby.dump(s"${run.work}/out")
  }

  private def messages(key: String): Seq[(Double, String, String, Option[String])] =
    run.spec.get(key).elements().asScala.map { m =>
      (m.get("due_ms").asDouble(), m.get("topic").asText(), m.get("value").asText(),
        Option(m.get("req")).filterNot(_.isNull).map(_.asText()))
    }.toSeq

  /** One micro-batch: parse every message once and collect the parsed
    * payloads (they are small), then one coalesced job call per job type
    * (per date window for historical requests), each followed by its JDBC
    * upsert.
    */
  private def microBatch(
      batch: DataFrame, opId: String, traced: Boolean,
      done: ConcurrentHashMap[String, java.lang.Double]): Seq[Map[String, Any]] = {
    val parsed = run.span("streaming.parse", opId, traced) {
      Relational.parsePayload(batch, "value_str", PayloadDdl)
        .select(col("job"), col("payload.req"), col("payload.assets"), col("payload.symbols"),
          col("payload.start_date"), col("payload.end_date"))
        .collect()
    }
    // the shape guard: a request needs the payload fields its job reads
    val (valid, rejected) = parsed.partition(r => r.getString(0) match {
      case "index"      => !r.isNullAt(3)
      case "market"     => !r.isNullAt(2)
      case "historical" => !r.isNullAt(2) && !r.isNullAt(4) && !r.isNullAt(5)
      case _            => false
    })
    val calls = valid.groupBy(r =>
      (r.getString(0), if (r.getString(0) == "historical") Some((r.getString(4), r.getString(5))) else None))
      .toSeq.sortBy { case ((job, range), _) => (Seq("market", "historical", "index").indexOf(job), range.toString) }
    val groups = calls.map { case ((kind, range), rows) =>
      val requests =
        if (kind == "index")
          spark.createDataFrame(rows.flatMap(_.getSeq[String](3)).distinct.map(Row(_)).toSeq.asJava, SymbolSchema)
        else spark.createDataFrame(rows.flatMap(_.getSeq[Row](2))
          .filter(a => !a.isNullAt(0) && !a.isNullAt(1))
          .map(a => Row(a.getString(0), a.getString(1))).distinct.toSeq.asJava, AssetSchema)
      val at = now()
      val rec = job(kind, requests, range, at, opId, traced)
      // the rows this call wrote: fetched at `at`, or for a backfill the
      // requested keys' months in its window
      val written = kind match {
        case "market" => market.filter(col("updated_at") === at).drop("updated_at")
        case "index"  => index.filter(col("updated_at") === at).drop("updated_at")
        case _ =>
          val (s, e) = range.get
          monthly.join(requests, Seq("symbol", "asset_type"), "left_semi")
            .filter(col("date").between(lit(s).cast("date"), lit(e).cast("date")))
      }
      run.span("jdbc.upsert", opId, traced)(Derby.upsert(kind, written))
      rec ++ Map("reqs" -> rows.map(_.getString(1)).toSeq, "range" -> range.map(x => Seq(x._1, x._2))) ++
        (if (traced) Map("jdbc_rows" -> run.probe("jdbc_rows", opId)(written.count())) else Map.empty)
    }
    // a batch's completions go out together, once all its calls and upserts
    // are done: the unit foreachBatch commits and would replay
    val at = run.nowMs()
    valid.foreach(r => done.put(r.getString(1), at))
    Seq(Map("rejected" -> rejected.length, "messages" -> parsed.length)) ++ groups
  }
}
