package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.SparkEntry
import graft.analytics.WeeklyDemand
import graft.etl.{Warehouse, ZoloPipeline}
import graft.forecast.ForecastJobs
import graft.tables.Tables

/** Paths one pass works with. `root` is a fresh warehouse per pass. */
case class Ctx(spark: SparkSession, data: String, work: String, pass: Int) {
  def zolo(window: String): String = s"$data/zolo/$window"
  def root: String = s"$work/wh/p$pass"
  /** Boundary dumps of this pass. Each pass writes its own, so that every
    * execution computes them; the oracles read the warm-up's (pass 0).
    */
  def oracleIo: String = s"$work/oracle_io/p$pass"

  /** A warehouse catalog bound to this pass's root. */
  def catalog: String = {
    val name = s"perfbench_p$pass"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.WarehouseCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    name
  }
}

/** One timed call into the program: `body` runs the module function and
  * returns the result the benchmark consumes in full. `oracle` names the
  * check the reference output is held to (see oracle.py).
  */
case class Op(name: String, module: String, oracle: Oracle, body: Ctx => DataFrame)

/** How oracle.py checks an op's warm-up result: `sql` replays `sql` over
  * the generated corpus, `warehouse_sql` over the landed warehouse tables,
  * `landed_*` compares the warehouse with the zolo oracles of each window,
  * and `none` leaves only the pass-to-pass digest agreement.
  */
case class Oracle(kind: String, sql: String = null)

object Workloads {
  private val fixturePaths = Seq("square_payments.json", "shopify_orders.json", "qb_invoices.json",
    "qb_customers.json")

  /** Points an oracle at the benchmark's own inputs and dump directory. */
  private def rewrite(sql: String, ctx: Ctx, window: String = "w1"): String = {
    val fixtures = fixturePaths.foldLeft(sql) { (q, f) =>
      q.replace(s"'${ZoloPipeline.fixturesDir}/$f'", s"'${ctx.zolo(window)}/$f/*.json'")
    }
    fixtures
      .replace(s"${ZoloPipeline.fixturesDir}/", s"${ctx.zolo(window)}/")
      .replace(graft.OracleIo.sqlDir, ctx.oracleIo)
  }

  /** The per-table zolo ETL oracles of each extraction window, keyed by
    * the warehouse table they describe.
    */
  def windowOracles(ctx: Ctx): Map[String, Map[String, String]] = {
    val tables = Map("raw.square_trans" -> "zolo_square_trans", "raw.square_trans_details" -> "zolo_square_details",
      "raw.shopify_trans" -> "zolo_shopify_trans", "raw.shopify_trans_details" -> "zolo_shopify_details",
      "raw.qb_trans" -> "zolo_qb_trans", "raw.qb_trans_details" -> "zolo_qb_details",
      "raw.qb_customers" -> "zolo_qb_customers")
    Seq("w1", "w2").map(w => w -> tables.map { case (t, k) => t -> rewrite(SparkEntry.oracleSql(k), ctx, w) }).toMap
  }

  private def entry(name: String, module: String)(ctx: Ctx): Op =
    Op(name, module, oracleOf(name, ctx), c => SparkEntry.queries(name)(c.spark, c.data))

  private def oracleOf(key: String, ctx: Ctx): Oracle =
    SparkEntry.oracleSql.get(key).map(s => Oracle("sql", rewrite(s, ctx))).getOrElse(Oracle("none"))

  /** Every read-only headline query of the engine (the weekly-demand SQL
    * runs in the nightly workload).
    */
  def headlineQueries(ctx: Ctx): Seq[Op] = Seq(
    entry("q1_pricing_summary", "queries") _,
    entry("a1_multi_agg", "queries") _,
    entry("j1_header_detail", "queries") _,
    entry("j_range_binned", "queries") _,
    entry("w_sessionize", "queries") _,
    entry("e_anomalies", "queries") _,
    entry("m_weekly_series", "forecast") _,
    entry("dedup_exact", "dedup") _,
    (c: Ctx) => Op("dedup_minhash_pairs", "dedup", oracleOf("dedup_minhash_pairs", c), x =>
      graft.dedup.Dedup.minhashPairs(Tables.documents(x.spark, x.data), threshold = 0.5,
        sigDump = Some(s"${x.oracleIo}/minhash_sigs"))),
    entry("dedup_paragraph", "dedup") _,
    (c: Ctx) => Op("ann_ivf_topk", "sim", oracleOf("ann_ivf_topk", c), x =>
      graft.sim.Similarity.ivfTopK(x.spark, x.data, k = 5, nCells = 16, nprobe = 4,
        centsDump = Some(s"${x.oracleIo}/ivf_centroids"))),
    entry("ann_bruteforce_topk", "sim") _,
    entry("text_rare_score", "text") _,
    entry("text_bpe_encode", "text") _,
    entry("mm_scene_cut", "mm") _,
    entry("g_pagerank", "queries") _
  ).map(_(ctx))

  private val landed = Seq("raw.square_trans", "raw.square_trans_details", "raw.shopify_trans",
    "raw.shopify_trans_details", "raw.qb_trans", "raw.qb_trans_details", "raw.qb_customers",
    "ref.items", "ref.coffee_profiles")

  /** Row counts of every warehouse table, read back through the catalog. */
  private def landedCounts(c: Ctx): DataFrame = {
    val cat = c.catalog
    landed.map(t => c.spark.table(s"$cat.$t").agg(count(lit(1)).as("rows")).select(lit(t).as("table"), col("rows")))
      .reduce(_ unionByName _)
  }

  private def load(window: String)(c: Ctx): DataFrame = {
    ZoloPipeline.loadWarehouse(c.spark, c.root, c.zolo(window))
    landedCounts(c)
  }

  /** The events increment the nightly job ingests: the corpus' first 19 days. */
  private val eventsCut = "2024-01-20 00:00:00"

  private def model(table: String, fit: Ctx => DataFrame)(c: Ctx): DataFrame = {
    val name = s"${c.catalog}.models.$table"
    fit(c).writeTo(name).create()
    c.spark.table(name)
  }

  /** The reference's nightly run: two extraction windows into a fresh
    * warehouse (the second re-delivers part of the first, which the keyed
    * append drops), an audited events increment, the weekly-demand query over
    * the landed tables and the SES and ARIMA forecast fits, each written
    * to a model table through the catalog.
    */
  def nightlyEtl(ctx: Ctx): Seq[Op] = Seq(
    Op("load_window1", "etl", Oracle("landed_window1"), load("w1")),
    Op("load_window2", "etl", Oracle("landed_window2"), load("w2")),
    Op("ingest_audited", "etl", Oracle("sql",
      s"""SELECT 'events' AS pipeline, TIMESTAMP '$eventsCut' AS high_water_mark,
         |  CAST(COUNT(*) FILTER (WHERE ts <= TIMESTAMP '$eventsCut') AS BIGINT) AS rows_landed
         |FROM events""".stripMargin), c => {
      val increment = Tables.events(c.spark, c.data).filter(col("ts") <= lit(eventsCut).cast("timestamp"))
      Warehouse.ingestBatchAudited(c.spark, increment, s"${c.root}/events", "event_id", s"${c.root}/wm",
        "events", java.sql.Timestamp.valueOf(eventsCut), s"${c.root}/ingest_audit")
      c.spark.read.parquet(s"${c.root}/ingest_audit")
    }),
    Op("weekly_demand", "analytics", Oracle("warehouse_sql", WeeklyDemand.sql), c => {
      val cat = c.catalog
      landed.foreach(t => c.spark.table(s"$cat.$t").createOrReplaceTempView(t.split('.')(1)))
      WeeklyDemand.run(c.spark)
    }),
    Op("m_ses_forecast", "forecast", oracleOf("m_ses_forecast", ctx),
      model("model_simp_avg", c => ForecastJobs.sesJob(c.spark, c.data))),
    Op("m_arima_forecast", "forecast", Oracle("none"),
      model("model_meta", c => ForecastJobs.arimaJob(c.spark, c.data)))
  )

  def apply(name: String, ctx: Ctx): Seq[Op] = name match {
    case "headline_queries" => headlineQueries(ctx)
    case "nightly_etl"      => nightlyEtl(ctx)
    case other              => sys.error(s"unknown workload $other")
  }
}
