package perfbench

import com.sun.net.httpserver.HttpExchange
import graft.ext.{Ivf, QualityModel, Retrieval}
import graft.io.{CsvIngest, HttpShim}
import java.net.{HttpURLConnection, URI, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `serve_mix`: `HttpShim` under a closed loop of two client threads in
  * the same process. `/customers` is the reference's `main.py` shape (a
  * CSV re-read per request, returned as JSON); `/search`, `/similar` and
  * `/quality` probe the BM25, IVF and quality-model artifacts that set-up
  * builds from `documents` and `embeddings`.
  */
object Serve {
  import Main._

  val Routes = Seq("customers", "search", "similar", "quality")
  val Clients = 2
  val WarmRequests = 8
  /** Timed requests a window serves at least. */
  val MinRequests = 24
  val Header = "X-Perfbench-Req"

  final case class Sample(route: String, id: String, sendNs: Long,
                          sendMs: Long, recvNs: Long, recvMs: Long,
                          body: String, ok: Boolean)

  def run(work: String, seconds: Double, tracer: Tracer, r: Result)
         (implicit spark: SparkSession): Unit = {
    graft.plans.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$work/data/documents.parquet")
    val emb = spark.read.parquet(s"$work/data/embeddings.parquet")

    // set-up: build the three served artifacts
    val db = "perfbench_serve"
    val t0 = System.nanoTime()
    spark.sql(s"CREATE DATABASE $db LOCATION '$work/warehouse/$db.db'")
    Retrieval.writeBm25Index(docs, "doc_id", "text", s"$db.bm25",
      nBuckets = 4)
    val centroids = Ivf.trainCentroids(emb, "embedding", nList = 8,
      dim = 64, sampleSize = 500, iters = 2)
    Ivf.writeIndex(emb, "vec_id", "embedding", centroids, 64, s"$db.ivf",
      nBuckets = 4)
    val w = QualityModel.trainQualityClassifier(
      docs.select(col("doc_id"), col("text"), (col("lang") === "en").as("label")),
      "doc_id", "text", "label", nBuckets = 256, steps = 3)
    QualityModel.writeQualityModel(spark, s"$db.qm", w.toSeq)
    r.setupS = secondsSince(t0)
    r.phase("setup")

    val csv = s"$work/data/customers.csv"
    val raw: Map[String, HttpExchange => DataFrame] =
      HttpShim.retrievalRoutes(spark, s"$db.bm25") ++
        HttpShim.annRoutes(spark, s"$db.ivf", "vec_id", "embedding") ++
        HttpShim.qualityRoutes(spark, s"$db.qm") +
        ("customers" -> ((_: HttpExchange) => CsvIngest.readCsv(spark, csv)))
    // the route wrapper: stamps entry, tags the dispatch thread's jobs
    val entered = new ConcurrentHashMap[String, java.lang.Long]()
    val built = new ConcurrentHashMap[String, java.lang.Double]()
    val routes = raw.map { case (p, mk) => p -> { (ex: HttpExchange) =>
      val id = ex.getRequestHeaders.getFirst(Header)
      val t0 = System.nanoTime()
      entered.put(id, t0)
      spark.sparkContext.setJobGroup(s"serve:$p:$id", p)
      val df = mk(ex)
      built.put(id, secondsSince(t0))
      df
    }}
    val shim = HttpShim.startDynamic(routes)
    try {
      val reqs = scala.io.Source.fromFile(s"$work/requests.txt").getLines()
        .toIndexedSeq
      def get(path: String, id: String): Sample = {
        val sendMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val conn = new URI(s"http://127.0.0.1:${shim.port}$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestProperty(Header, id)
        val code = conn.getResponseCode
        val body = new String(conn.getInputStream.readAllBytes(),
          StandardCharsets.UTF_8)
        conn.disconnect()
        Sample(routeOf(path), id, t0, sendMs, System.nanoTime(),
          System.currentTimeMillis(), body,
          code == 200 && !body.startsWith("{\"error\""))
      }
      val next = new AtomicInteger(0)
      def loop(until: () => Boolean): Seq[Sample] = {
        val out = mutable.ArrayBuffer[Sample]()
        val threads = (1 to Clients).map { _ => new Thread(() => {
          while (!until()) {
            val i = next.getAndIncrement()
            val path = reqs(i % reqs.size)
            val t0 = System.nanoTime()
            val s = try get(path, s"r$i") catch { case e: Throwable =>
              Sample(routeOf(path), s"r$i", t0, System.currentTimeMillis(),
                System.nanoTime(), System.currentTimeMillis(), e.toString, ok = false)
            }
            out.synchronized(out += s)
          }
        })}
        threads.foreach(_.start()); threads.foreach(_.join())
        out.toSeq
      }
      def count(samples: Seq[Sample], timed: Boolean): Unit = {
        r.attempted += samples.size
        samples.foreach { s =>
          if (!s.ok)
            r.fail(s"request ${s.id} ${s.route}", new RuntimeException(s.body.take(200)))
          else if (timed) r.ops += Op("request", (s.recvNs - s.sendNs) / 1e9)
        }
      }
      count(loop(() => next.get() >= WarmRequests), timed = false)
      r.phase("warm")
      tracer.spans.clear()
      tracer.openWindow()
      val w0 = System.nanoTime()
      val samples = tracer.span("window") {
        loop(() => secondsSince(w0) >= seconds && next.get() >=
          WarmRequests + MinRequests)
      }
      r.windowS = secondsSince(w0)
      tracer.closeWindow()
      r.phase("window")
      count(samples, timed = true)
      r.unitOps = math.max(1, samples.size)
      // per-request timings the traced run turns into layer numbers
      r.observed("requests") = samples.map { s =>
        val in = Option(entered.get(s.id)).map(_.longValue).getOrElse(s.sendNs)
        Map("route" -> s.route, "group" -> s"serve:${s.route}:${s.id}",
          "send_ms" -> s.sendMs, "recv_ms" -> s.recvMs,
          "queue_s" -> (in - s.sendNs) / 1e9,
          "handler_s" -> (s.recvNs - in) / 1e9,
          "build_s" -> Option(built.get(s.id)).map(_.doubleValue).getOrElse(0.0))
      }

      // answers, outside the window: sampled responses against the batch
      // operators on the same artifacts
      var checked = 0
      Routes.foreach { route =>
        reqs.filter(routeOf(_) == route).take(1).foreach { path =>
          r.attempted += 1
          checked += 1
          try {
            val served = get(path, s"check$checked").body
            val want = batchAnswer(path, db, s"$work/data/customer.parquet")
            if (served != want)
              r.fail(s"check $path", new RuntimeException(
                s"served ${served.take(120)} != batch ${want.take(120)}"))
          } catch { case e: Throwable => r.fail(s"check $path", e) }
        }
      }
      r.observed("checked") = checked
    } finally shim.stop()
  }

  def routeOf(path: String): String = path.stripPrefix("/").takeWhile(_ != '?')

  private def params(path: String): Map[String, String] =
    path.dropWhile(_ != '?').drop(1).split("&").filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap

  /** The batch operator's answer to one request, rendered like the shim.
    * `/customers` is answered from the table the CSV was generated from,
    * read by the parquet reader, not by `CsvIngest`. */
  def batchAnswer(path: String, db: String, customers: String)
                 (implicit spark: SparkSession): String = {
    import spark.implicits._
    val p = params(path)
    val df = routeOf(path) match {
      case "customers" => spark.read.parquet(customers)
      case "search" =>
        Retrieval.bm25ProbeTopK(spark, s"$db.bm25",
          p("q").toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq,
          p("k").toInt)
      case "similar" =>
        Ivf.ivfTopKIndexed(spark, s"$db.ivf", spark.table(s"$db.ivf")
            .filter(col("vec_id") === p("id").toLong)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", p("k").toInt)
      case "quality" =>
        QualityModel.qualityClassifierScoreIndexed(spark, s"$db.qm",
          Seq(p("text")).toDF("text"), "text")
    }
    df.limit(100000).toJSON.collect().mkString("[", ",", "]")
  }

  def layers(tracer: Tracer, m: Meter, r: Result): Unit = {
    val reqs = r.observed("requests").asInstanceOf[Seq[Map[String, Any]]]
    def d(x: Map[String, Any], k: String) = x(k).asInstanceOf[Double]
    r.layers("serve.queue_ms") = median(reqs.map(d(_, "queue_s"))) * 1e3
    r.layers("serve.handler_ms") = median(reqs.map(d(_, "handler_s"))) * 1e3
    Routes.foreach { route =>
      val mine = reqs.filter(_("route") == route)
      val counts = mine.map { x =>
        m.attribute(Span(route, x("group").asInstanceOf[String],
          x("send_ms").asInstanceOf[Long], x("recv_ms").asInstanceOf[Long],
          0.0, null))
      }
      r.layers(s"serve.$route.handler_ms") = median(mine.map(d(_, "handler_s"))) * 1e3
      r.layers(s"serve.$route.build_ms") = median(mine.map(d(_, "build_s"))) * 1e3
      r.layers(s"serve.$route.jobs_per_req") = mean(counts.map(_("jobs")))
      r.layers(s"serve.$route.tasks_per_req") = mean(counts.map(_("tasks")))
    }
  }
}
