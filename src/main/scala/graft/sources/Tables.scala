package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SessionBridge

import graft.Barrier
import graft.model.Schemas

/** Readers over the driver-generated parquet testdata
  * (TESTDATA.md) and the reference-shaped CSV bronze input.
  */
object Tables {
  val tpch: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** PLAN memo per (session, dir, table) — the engine analog of a
    * catalog/metastore table whose schema is already known. Every
    * `spark.read.parquet` call re-lists the path and re-reads a
    * parquet footer to infer the schema ON THE DRIVER (~0.1 s
    * measured warm at sf0.1), and the bench constructs each query
    * inside its timed region, so a 458-query sweep paid that tax
    * hundreds of times over. A memoized table is a LAZY DataFrame
    * (a logical plan): every action still scans the parquet input —
    * no rows are cached, nothing is precomputed. The derived entries,
    * [[HeadlineData.silverCached]] and the silver grains
    * ([[graft.jobs.GoldJob.silverGrain]]), share this lifetime and are
    * rebuilt if their barrier loses a block.
    *
    * Lifetime: the outer map is keyed by the session's UUID, a
    * String the cached plans do not reference. Every cached
    * DataFrame holds its session, so a map keyed by the session
    * itself could never release an entry, weak keys or not. Instead,
    * the first plan memoized for an application registers a listener
    * on its SparkContext that drops all of that application's
    * sessions when the application ends. Staleness caveat:
    * regenerating the parquet at the SAME path in-process serves the
    * old schema — call [[invalidate]] after rewriting testdata in
    * place. */
  private final class Plans(val appId: String) {
    val byTable =
      new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()
  }
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Plans]()
  /** Applications whose end already evicts their sessions' plans. */
  private val watched = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    memoized(spark, sfDir, name)(Barrier.intact)(
      if (name == "events") events(spark, sfDir)
      else spark.read.parquet(s"$sfDir/$name.parquet"))

  /** The value memoized under `key` (one value type per key) for this
    * session and dir, built on first use and again once `fresh`
    * rejects it. `build` runs outside the map's lock, so it may read
    * memoized tables; when two threads race, the first fresh value
    * stored wins. */
  private[graft] def memoized[V <: AnyRef](spark: SparkSession, dir: String, key: String)(
      fresh: V => Boolean)(build: => V): V = {
    val plans = memo.computeIfAbsent(SessionBridge.uuid(spark),
      _ => plansFor(spark.sparkContext)).byTable
    val valid = (v: AnyRef) => fresh(v.asInstanceOf[V])
    Option(plans.get((dir, key))).filter(valid).getOrElse {
      val v = build
      plans.merge((dir, key), v, (cur, _) => if (valid(cur)) cur else v)
    }.asInstanceOf[V]
  }

  /** The (dir, key) of every memoized value, all sessions. */
  private[graft] def entries: Seq[(String, String)] =
    memo.values.asScala.toSeq.flatMap(_.byTable.keySet.asScala)

  private def plansFor(sc: SparkContext): Plans = {
    val app = sc.applicationId
    if (watched.add(app)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
        memo.values.removeIf(_.appId == app)
    })
    new Plans(app)
  }

  /** Drop every memoized value of every session: plans, the derived
    * silver and the silver grains. For in-process testdata
    * regeneration at an already-memoized path; perfbench also calls
    * it before each of its set-ups. */
  def invalidate(): Unit = memo.clear()

  /** events.parquet's `ts` encoding has shifted across testdata
    * generations; normalize every variant to TIMESTAMP (LTZ, session
    * TZ pinned UTC everywhere) so downstream `unix_micros`/window
    * code sees one type:
    *  - TIMESTAMP(NANOS): Spark 4 rejects it outright; read nanos as
    *    long via the legacy flag and floor-convert to micros
    *    (integer `div`, no double round-trip — exact past 2^53);
    *  - TIMESTAMP_MICROS with isAdjustedToUTC=0: Spark reads it as
    *    TIMESTAMP_NTZ, which `unix_micros()` rejects at analysis
    *    time; cast to TIMESTAMP — value-preserving because the
    *    session TZ is UTC in every entrypoint;
    *  - plain TIMESTAMP: pass through.
    */
  private def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Whether a sink has stored anything at `path` yet. Sinks probe
    * this instead of catching the reader's AnalysisException on a
    * first run: once a session has run an `Observation`
    * ([[graft.jobs.IngestJob]]), Spark's observation listener logs
    * every failed analysis as an ERROR with its stack trace. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** CSV bronze read with an explicit schema — never inferSchema
    * (determinism, SURVEY §1.2). Matches the reference's CSV form:
    * header `title,link,source,scraped_at`, UTF-8
    * (reference: scripts/scraper.py:162-167, README.md:257-261).
    */
  def rawHeadlinesCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.raw)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]")
      .csv(path)

  /** Audit variant of [[rawHeadlinesCsv]]: PERMISSIVE read that
    * captures unparseable lines in `_corrupt_record` so ingest can
    * count and quarantine them instead of silently null-coercing
    * (the reference's pandas read coerces without trace). The main
    * read stays schema-only; this is the data-quality path.
    */
  def rawHeadlinesCsvAudit(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(Schemas.raw.add("_corrupt_record",
        org.apache.spark.sql.types.StringType))
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]")
      .csv(path)

  /** S4: JDBC full-table scan (reference: psycopg2 `SELECT * FROM
    * raw_headlines`, scripts/llm_test_enricher.py:144-151). Plain
    * `spark.read.jdbc` — Catalyst pushes filters/projections into the
    * remote query where the dialect allows. For a big table pass
    * `partitionColumn/lowerBound/upperBound/numPartitions` via
    * `options` so the scan parallelizes instead of funneling through
    * one connection (the at-scale footgun of default JDBC reads).
    */
  def jdbc(spark: SparkSession, url: String, tableName: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.options(options)
      .format("jdbc")
      .option("url", url)
      .option("dbtable", tableName)
      .load()

  /** "Latest file" resolution (reference picks max(getctime) over the
    * raw dir, dags/g1_scraping_dag.py:62-69) via the Hadoop
    * FileSystem — works on any Hadoop-compatible store (HDFS/S3A),
    * not just local disk.
    */
  def latestFile(spark: SparkSession, dir: String, suffix: String = ".csv"): Option[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).filter(s => s.isFile && s.getPath.getName.endsWith(suffix))
      .sortBy(_.getModificationTime).lastOption.map(_.getPath.toString)
  }
}
