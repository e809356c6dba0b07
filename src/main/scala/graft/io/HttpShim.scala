package graft.io

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutorService, Executors, ThreadFactory,
  TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal

/** S12 — the reference's HTTP JSON serving shim (main.py:6-30): FastAPI
  * routes `/payments` and `/reviews` that read a CSV per request and
  * return it as a JSON array of row objects (an `{"error": ...}` object
  * on failure, still HTTP 200 — main.py:14-22).
  *
  * Spark-first equivalent: each route maps to a DataFrame built per
  * request and serialized with `toJSON`, so row objects are keyed by
  * column name exactly like DictReader rows. State per table version,
  * rows per request: what a route derives from its artifact's files (a
  * model's weights, an index's id column, a CSV's inferred schema) is
  * loaded once per version of those files ([[VersionMemo]]) and reused
  * until they change, while the rows themselves are read by every
  * request, as the reference re-reads its file. A rewrite, an append or
  * a retrained model is served from the very next request. Serving
  * collects to the driver by design — this is a small-result API shim,
  * not a data plane — but `maxRows` caps the collect so a mis-pointed
  * route cannot OOM the driver: the answer is the route's first
  * `maxRows` rows in its own order, collected in the same single job
  * whatever the result's partition count, and the driver never holds
  * more than `defaultParallelism` × `maxRows` rows ([[firstRowsJson]]).
  *
  * Requests are served concurrently on a fixed pool of daemon threads
  * (`graft-http-N`), one per available processor, so one request's
  * driver-side planning and tiny jobs overlap another's instead of
  * queueing behind it. Each request's jobs run under the job group
  * `http:<route>` (description: the raw query string), cleared when
  * the request ends so a pooled thread never carries it over.
  *
  * `port = 0` binds an ephemeral port (tests); `Shim.port` reports it.
  */
object HttpShim {

  final case class Shim(server: HttpServer, pool: ExecutorService) {
    def port: Int = server.getAddress.getPort
    /** Stop accepting, then retire the dispatch pool. */
    def stop(): Unit = {
      server.stop(0)
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  def start(routes: Map[String, () => DataFrame], port: Int = 0,
            maxRows: Int = 100000): Shim =
    startDynamic(routes.map { case (p, mk) =>
      p -> ((_: HttpExchange) => mk()) }, port, maxRows)

  /** Routes whose DataFrame depends on the request (query parameters) —
    * what a retrieval route needs; the plain [[start]] wraps its
    * request-independent thunks through here.
    */
  def startDynamic(routes: Map[String, HttpExchange => DataFrame],
                   port: Int = 0, maxRows: Int = 100000): Shim = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    routes.foreach { case (path, mk) =>
      server.createContext(s"/$path", handler(path, mk, maxRows))
    }
    val pool = dispatchPool()
    server.setExecutor(pool)
    server.start()
    Shim(server, pool)
  }

  /** A fixed pool of daemon threads named `graft-http-N`, one per
    * available processor: daemon, so a shim that is never stopped
    * cannot keep the JVM alive. */
  private def dispatchPool(): ExecutorService = {
    val n = new AtomicInteger(0)
    Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors,
      new ThreadFactory {
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-http-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
  }

  /** `?a=1&b=x` → Map(a -> 1, b -> x), URL-decoded; absent/blank query
    * string → empty map. */
  private[io] def queryParams(rawQuery: String): Map[String, String] =
    Option(rawQuery).filter(_.nonEmpty).toSeq
      .flatMap(_.split("&").toSeq)
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(
            java.net.URLDecoder.decode(k, StandardCharsets.UTF_8) ->
              java.net.URLDecoder.decode(v, StandardCharsets.UTF_8))
          case _ => None
        }
      }.toMap

  /** The serving story over the engine's own PERSISTED indexes — the
    * reference's shim (S12) re-reads a CSV per request; this route
    * answers `/search?q=<terms>[&k=N]` from a persisted BM25 postings
    * index ([[graft.ext.Retrieval.writeBm25Index]]) via
    * `bm25ProbeTopK`: the request touches only the query terms'
    * buckets (bucket-pruned scan), never the corpus. Terms are the
    * request's lowercased whitespace tokens, deduplicated — the same
    * term-set semantics as the batch probe, so a served answer is
    * bit-identical to the batch operator on the same index
    * (spec-pinned). A missing/blank `q` surfaces as the shim's
    * standard `{"error": ...}` object.
    */
  def retrievalRoutes(spark: org.apache.spark.sql.SparkSession,
                      table: String, defaultK: Int = 10)
      : Map[String, HttpExchange => DataFrame] = Map(
    "search" -> { ex =>
      val params = queryParams(ex.getRequestURI.getRawQuery)
      val terms = params.getOrElse("q", "")
        .toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
      require(terms.nonEmpty, "missing or empty ?q= parameter")
      val k = params.get("k").map(_.toInt).getOrElse(defaultK)
      graft.ext.Retrieval.bm25ProbeTopK(spark, table, terms, k)
    })

  /** `/similar?id=<doc>[&k=N]` answered from a PERSISTED IVF index
    * ([[graft.ext.Ivf.writeIndex]]) — more-like-this serving over the
    * vector family, completing the served-index trio (lexical BM25,
    * quality model, ANN). The query vector comes from the index itself,
    * then the stock indexed probe runs, so a served neighbor list is
    * bit-identical to the batch probe (spec-pinned). The id lookup is
    * part of the probe plan: the requested id's stored row is the
    * probe's broadcast query side, and an id absent from the index
    * fails the probe with an error naming it (the standard
    * `{"error": ...}` object; [[graft.ext.Ivf.ivfProbe]]'s
    * `missingQuery`). Building the route's DataFrame runs no job, and
    * serving it runs three: the broadcast, the scan that scores and
    * exchanges for the per-query rank, and the collect.
    */
  def annRoutes(spark: org.apache.spark.sql.SparkSession,
                table: String, idCol: String, vecCol: String,
                defaultK: Int = 10, nProbe: Int = 4)
      : Map[String, HttpExchange => DataFrame] = Map(
    "similar" -> { ex =>
      import org.apache.spark.sql.functions.col
      val params = queryParams(ex.getRequestURI.getRawQuery)
      val id = params.getOrElse("id",
        throw new IllegalArgumentException("missing ?id= parameter")).toLong
      val k = params.get("k").map(_.toInt).getOrElse(defaultK)
      val stored = spark.table(table).filter(col(idCol) === id)
        .select(col(idCol), col(vecCol))
      graft.ext.Ivf.ivfProbe(spark, table, stored, idCol, vecCol, k, nProbe,
        queriesFitBroadcast = true,
        missingQuery = Some(s"id $id not in index $table"))
    })

  /** `/quality?text=<document>` answered from a PERSISTED trained
    * quality model ([[graft.ext.QualityModel.writeQualityModel]]) through
    * the stock inference operator — the quality twin of the `/search`
    * route, so a served verdict is bit-identical to the batch scorer
    * on the same model (spec-pinned). A missing/blank `text` surfaces
    * as the standard `{"error": ...}` object.
    */
  def qualityRoutes(spark: org.apache.spark.sql.SparkSession,
                    modelTable: String, threshold: Double = 0.0)
      : Map[String, HttpExchange => DataFrame] = Map(
    "quality" -> { ex =>
      val params = queryParams(ex.getRequestURI.getRawQuery)
      val text = params.getOrElse("text", "")
      require(text.trim.nonEmpty, "missing or empty ?text= parameter")
      import spark.implicits._
      graft.ext.QualityModel.qualityClassifierScoreIndexed(spark, modelTable,
        Seq(text).toDF("text"), "text", threshold)
    })

  /** `/robots?url=<raw URL>` — the crawl worker's pre-fetch check,
    * answered from a PERSISTED parsed rule table
    * ([[graft.ext.UrlOps.parseRobotsTxt]] output saved as a table):
    * the raw URL is canonicalized (the native one-pass expression)
    * and judged by [[graft.ext.UrlOps.robotsVerdict]]'s RFC 9309
    * longest-match semantics, so a served verdict is bit-identical
    * to the batch operator on the same rules (spec-pinned). Returns
    * one row: `url_canon`, `fetch_allowed`, `rule_match_len`. A
    * missing/blank `url` surfaces as the standard `{"error": ...}`
    * object.
    */
  def robotsRoutes(spark: org.apache.spark.sql.SparkSession,
                   rulesTable: String)
      : Map[String, HttpExchange => DataFrame] = Map(
    "robots" -> { ex =>
      import org.apache.spark.sql.functions.col
      val params = queryParams(ex.getRequestURI.getRawQuery)
      val url = params.getOrElse("url", "")
      require(url.trim.nonEmpty, "missing or empty ?url= parameter")
      import spark.implicits._
      val canon = graft.ext.UrlOps.withCanonicalUrl(
        Seq(url).toDF("url"), "url")
      graft.ext.UrlOps.robotsVerdict(
          canon.select(col("url_canon")), "url_canon", "url_canon",
          spark.table(rulesTable).select("host", "path_prefix", "allow"))
        .select("url_canon", "fetch_allowed", "rule_match_len")
    })

  /** `/robots?url=…` served from the PERSISTED robots cache
    * ([[graft.ext.RobotsCache]]) — the [[robotsRoutes]] pre-fetch
    * check upgraded to LIVE state: the rule table re-resolves from
    * the cache's latest fetches per request, so a robots refetch
    * (`RobotsCache.refresh` / `EventStreams.robotsFetchStream`)
    * changes the very next answer without a remount, and the response
    * carries the host's cache age and the RFC 9309 §2.4 TTL action
    * alongside the verdict — a worker that sees
    * `refetch_robots_first` fetches robots first, not the URL (and a
    * NEVER-cached host reads stale by definition: no cached
    * permissions exist to fetch under). `asOfMicros` is the mount's
    * injectable clock (a server passes real time; specs pin a fixed
    * instant); `ttlHours` the mount's TTL. The gate IS
    * [[graft.ext.RobotsCache.ttlGate]] — one definition of staleness
    * (raw-micros compare), not a route-local copy. The response also
    * carries the host's LIVE `crawl_delay_micros`
    * ([[graft.ext.RobotsCache.latestDelays]] — null when the newest
    * fetch declares none): one request answers the worker's whole
    * question — may I fetch, under how fresh a permission, and how
    * fast. */
  def robotsCacheRoutes(spark: org.apache.spark.sql.SparkSession,
                        cacheTable: String, asOfMicros: () => Long,
                        ttlHours: Long = 24L)
      : Map[String, HttpExchange => DataFrame] = Map(
    "robots" -> { ex =>
      import org.apache.spark.sql.functions.{col, regexp_extract}
      val params = queryParams(ex.getRequestURI.getRawQuery)
      val url = params.getOrElse("url", "")
      require(url.trim.nonEmpty, "missing or empty ?url= parameter")
      import spark.implicits._
      val canon = graft.ext.UrlOps.withCanonicalUrl(
        Seq(url).toDF("url"), "url")
      val verdict = graft.ext.UrlOps.robotsVerdict(
        canon.select(col("url_canon")), "url_canon", "url_canon",
        graft.ext.RobotsCache.latestRules(spark, cacheTable))
      graft.ext.RobotsCache.ttlGate(spark,
          verdict.withColumn("host", regexp_extract(col("url_canon"),
            "^[a-z][a-z0-9+.-]*://([^/?]*)", 1)),
          "host", cacheTable, asOfMicros(), ttlHours)
        .join(graft.ext.RobotsCache.latestDelays(spark, cacheTable),
          Seq("host"), "left")
        .select("url_canon", "fetch_allowed", "rule_match_len",
          "robots_age_hours", "robots_stale", "action",
          "crawl_delay_micros")
    })

  /** `/mirror?host=<host>` — the scheduler's mirror probe served from
    * the PERSISTED components artifact ([[graft.ext.Graph
    * .writeComponents]] / [[graft.ext.Graph.rebuildComponents]]): the
    * host's representative, whether it is a duplicate the budget
    * evicts, and whether the artifact COVERS the host at all —
    * `covered = false` is the q201 drift condition surfaced per
    * request (the stored labeling has never seen this host; a worker
    * treats it as not-mirrored AND flags the artifact for rebuild).
    * The table re-resolves per request, so a
    * `Graph.rebuildComponents` changes the very next answer without a
    * remount — the [[robotsCacheRoutes]] liveness discipline.
    * Completes the components family's serve leg
    * (build → persist → append → audit → drift → rebuild → serve). */
  def mirrorRoutes(spark: org.apache.spark.sql.SparkSession,
                   compTable: String)
      : Map[String, HttpExchange => DataFrame] = Map(
    "mirror" -> { ex =>
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      val params = queryParams(ex.getRequestURI.getRawQuery)
      val host = params.getOrElse("host", "")
      require(host.trim.nonEmpty, "missing or empty ?host= parameter")
      import spark.implicits._
      val meta = spark.table(s"${compTable}_meta").head
      val idCol = meta.getString(meta.fieldIndex("id_col"))
      Seq(host).toDF("host")
        .join(graft.ext.Graph.loadComponents(spark, compTable)
            .select(col(idCol).as("host"), col("component")),
          Seq("host"), "left")
        .select(col("host"),
          coalesce(col("component"), col("host")).as("mirror_rep"),
          (coalesce(col("component"), col("host")) =!= col("host"))
            .as("is_mirror_dup"),
          col("component").isNotNull.as("covered"))
    })

  /** `/authority?host=<host>` — the scheduler's authority probe served
    * from the PERSISTED PageRank artifact ([[graft.ext.Graph
    * .writePageRank]] / [[graft.ext.Graph.rebuildPageRank]]): the
    * host's rank in micro-units and whether the artifact COVERS it —
    * `covered = false` is the q203 drift condition surfaced per
    * request (the stored universe has never seen this host; a worker
    * schedules it at authority 0 AND flags the artifact for rebuild).
    * The table re-resolves per request, so a `Graph.rebuildPageRank`
    * changes the very next answer without a remount (the
    * [[mirrorRoutes]] liveness discipline). Completes the authority
    * family's serve leg. */
  def authorityRoutes(spark: org.apache.spark.sql.SparkSession,
                      prTable: String)
      : Map[String, HttpExchange => DataFrame] = Map(
    "authority" -> { ex =>
      import org.apache.spark.sql.functions.{coalesce, col}
      val params = queryParams(ex.getRequestURI.getRawQuery)
      val host = params.getOrElse("host", "")
      require(host.trim.nonEmpty, "missing or empty ?host= parameter")
      import spark.implicits._
      val idCol = graft.ext.Graph.pageRankIdCol(spark, prTable)
      Seq(host).toDF("host")
        .join(graft.ext.Graph.loadPageRank(spark, prTable)
            .select(col(idCol).as("host"), col("pr_micro"), col("pr")),
          Seq("host"), "left")
        .select(col("host"),
          coalesce(col("pr_micro"),
            org.apache.spark.sql.functions.lit(0L)).as("pr_micro"),
          coalesce(col("pr"),
            org.apache.spark.sql.functions.lit(0.0d)).as("pr"),
          col("pr_micro").isNotNull.as("covered"))
    })

  /** `/rag?id=<doc>[&k=N]` — full RAG serving over the persisted
    * index pair: the query is a corpus member (more-like-this), its
    * terms from `docs`, its vector from the IVF index itself; the
    * answer is [[graft.ext.Retrieval.ragServeIndexed]]'s fused,
    * snippet-bearing top-k (bit-identical to the batch operator on the
    * same indexes — spec-pinned). Completes the served-index family:
    * per-leg routes (`/search`, `/similar`) and now their composition.
    * Run the BM25/IVF fscks before serving — fsck-then-mount.
    */
  def ragRoutes(spark: org.apache.spark.sql.SparkSession,
                bm25Table: String, ivfTable: String,
                docs: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, defaultK: Int = 5, legK: Int = 20,
                nProbe: Int = 4)
      : Map[String, HttpExchange => DataFrame] = Map(
    "rag" -> { ex =>
      import org.apache.spark.sql.functions.col
      val params = queryParams(ex.getRequestURI.getRawQuery)
      val id = params.getOrElse("id",
        throw new IllegalArgumentException("missing ?id= parameter")).toLong
      val k = params.get("k").map(_.toInt).getOrElse(defaultK)
      // the persisted name, not positional inference: an extra or
      // reordered index column would silently misbind the vector
      val ivfVecCol = graft.ext.Ivf.loadVecCol(spark, ivfTable)
        .getOrElse(spark.table(ivfTable).columns
          .filterNot(c => c == idCol || c == "list").head)
      val qtext = docs.filter(col(idCol) === id)
        .select(col(idCol).as("query_id"), col(textCol))
      require(qtext.take(1).nonEmpty, s"id $id not in the corpus")
      val qvec = spark.table(ivfTable).filter(col(idCol) === id)
        .select(col(idCol).as("query_id"), col(ivfVecCol))
      require(qvec.take(1).nonEmpty, s"id $id not in index $ivfTable")
      graft.ext.Retrieval.ragServeIndexed(spark, bm25Table, ivfTable,
        docs, idCol, textCol, qtext.join(qvec, "query_id"),
        "query_id", textCol, ivfVecCol, k, legK, nProbe,
        excludeSelf = true)
    })

  /** `/tokenize?text=<doc>[&model=unigram|bpe]` answered from the
    * PERSISTED tokenizer artifacts
    * ([[graft.ext.TextOps.writeUnigramModel]] /
    * [[graft.ext.TextOps.writeBpeModel]]) through the stock indexed
    * apply operators, so a served segmentation is bit-identical to the
    * batch tokenization under the same model (spec-pinned) — the
    * tokenizer twin of `/quality`, completing the serving surface for
    * every persisted artifact family. Missing/blank text and unknown
    * model names surface as the standard `{"error": ...}` object.
    */
  def tokenizerRoutes(spark: org.apache.spark.sql.SparkSession,
                      unigramTable: String, bpeTable: String)
      : Map[String, HttpExchange => DataFrame] = Map(
    "tokenize" -> { ex =>
      val params = queryParams(ex.getRequestURI.getRawQuery)
      val text = params.getOrElse("text", "")
      require(text.trim.nonEmpty, "missing or empty ?text= parameter")
      val model = params.getOrElse("model", "unigram")
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, size => asize}
      val df = Seq(text).toDF("text")
      model match {
        case "unigram" =>
          graft.ext.TextOps.withUnigramTokensIndexed(spark, unigramTable,
              df, "text")
            .select(col("unigram_tokens").as("tokens"),
              asize(col("unigram_tokens")).cast("long").as("n_tokens"))
        case "bpe" =>
          graft.ext.TextOps.withBpeTokensIndexed(spark, bpeTable, df, "text")
            .select(col("bpe_tokens").as("tokens"),
              col("n_bpe_tokens").as("n_tokens"))
        case other => throw new IllegalArgumentException(
          s"unknown model '$other' — use model=unigram or model=bpe")
      }
    })

  /** `/fsck?name=<artifact>` — the index fscks and drift checks
    * ([[graft.ext.IndexAudit]]) served over HTTP, so the
    * fsck-then-mount precondition and the retrain trigger are visible
    * to the same plane that serves `/search`/`/similar`/`/quality`.
    * The artifact registry is FIXED at mount time (a name → report
    * thunk map) — a request can never name an arbitrary catalog table
    * through the shim. Reports are the uniform (check, ok, observed,
    * expected) rows, identical to the batch audits (spec-pinned); an
    * unknown name surfaces as the standard `{"error": ...}` object
    * listing what IS mounted.
    */
  def opsRoutes(checks: Map[String, () => DataFrame])
      : Map[String, HttpExchange => DataFrame] = Map(
    "fsck" -> { ex =>
      val mounted = checks.keys.toSeq.sorted.mkString(", ")
      val params = queryParams(ex.getRequestURI.getRawQuery)
      val name = params.getOrElse("name", throw new IllegalArgumentException(
        s"missing ?name= parameter; mounted artifacts: $mounted"))
      checks.getOrElse(name, throw new IllegalArgumentException(
        s"unknown artifact '$name'; mounted artifacts: $mounted"))()
    })

  /** The reference's two routes over CSV files (main.py:8-9, 24-30),
    * parsed with the S1 ingester.
    */
  def csvRoutes(spark: org.apache.spark.sql.SparkSession,
                payments: String, reviews: String)
      : Map[String, () => DataFrame] = Map(
    "payments" -> (() => CsvIngest.readCsv(spark, payments)),
    "reviews" -> (() => CsvIngest.readCsv(spark, reviews)))

  private def jsonQuote(s: String): String = {
    val sb = new StringBuilder("\"")
    Option(s).getOrElse("null").foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x") // all controls
      case c => sb.append(c)
    }
    sb.append("\"").toString
  }

  /** The message a failed request answers. A `raise_error` in a route's
    * plan reaches the driver wrapped in the job's failure; its own
    * message is answered, as a driver-side `require` would have been. */
  private def errorText(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .collectFirst {
        case t: org.apache.spark.SparkThrowable
            if t.getCondition == "USER_RAISED_EXCEPTION" =>
          t.getMessageParameters.get("errorMessage")
      }.getOrElse(String.valueOf(e.getMessage))

  /** The first `maxRows` rows of `df`, in its own order, as JSON
    * objects, collected by one job. The result's partitions are cut into
    * at most `defaultParallelism` contiguous runs, in index order; one
    * task per run reads its partitions in order and stops after
    * `maxRows` rows, and the driver keeps the first `maxRows` of the
    * runs' rows in run order. A `limit` would add an
    * `Exchange SinglePartition` stage (one more job) over a
    * multi-partition result, and a per-partition `take` would hold
    * partitions × `maxRows` rows on the driver; this holds at most
    * `defaultParallelism` × `maxRows`, however many partitions there
    * are, and still scans with every core. */
  private def firstRowsJson(df: DataFrame, maxRows: Int): Array[String] = {
    val json = df.toJSON.rdd
    val runs = math.max(1,
      math.min(json.getNumPartitions, json.sparkContext.defaultParallelism))
    json.coalesce(runs, shuffle = false, Some(ContiguousRuns))
      .mapPartitions(_.take(maxRows))
      .collect()
      .take(maxRows)
  }

  /** `maxPartitions` groups of consecutive parent partitions, in index
    * order, none empty while there are at least as many parents: what
    * [[firstRowsJson]] reads. The stock coalescer groups by preferred
    * location, not by index. */
  private object ContiguousRuns extends PartitionCoalescer with Serializable {
    override def coalesce(maxPartitions: Int,
                          parent: RDD[_]): Array[PartitionGroup] = {
      val ps = parent.partitions
      Array.tabulate(maxPartitions) { g =>
        val group = new PartitionGroup()
        group.partitions ++= ps.slice(g * ps.length / maxPartitions,
          (g + 1) * ps.length / maxPartitions)
        group
      }
    }
  }

  private def handler(route: String, mk: HttpExchange => DataFrame,
                      maxRows: Int): HttpHandler =
    new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val sc = SparkSession.getActiveSession
          .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
        val body =
          try {
            // a route may set its own group; the one it sets wins
            sc.foreach(_.setJobGroup(s"http:$route",
              Option(ex.getRequestURI.getRawQuery).getOrElse("")))
            firstRowsJson(mk(ex), maxRows).mkString("[", ",", "]")
          } catch {
            // parity with read_csv's catch-all error object
            // (main.py:21-22); NonFatal also answers an operator's
            // AssertionError instead of dropping the connection
            case NonFatal(e) => s"""{"error":${jsonQuote(errorText(e))}}"""
          } finally sc.foreach(_.clearJobGroup())
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, bytes.length)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      }
    }
}
