package perfbench

import java.io.File
import java.net.InetSocketAddress
import java.nio.file.Files
import java.security.MessageDigest
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Main, Pipeline}
import graft.sources.{CsvHttpSource, HttpFetch, PaginatedJsonSource, RefSchemas}

/** The challenge API as an in-process stub: serves the rendered CSVs
  * and transaction pages from memory and counts requests and bytes. */
final class StubApi(files: Map[String, Array[Byte]], pages: IndexedSeq[Array[Byte]],
                    pageRows: Int, threads: Int) {
  val requests = new AtomicLong
  val bytes = new AtomicLong
  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val emptyPage = """{"results": []}""".getBytes("UTF-8")

  private def reply(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    requests.incrementAndGet(); bytes.addAndGet(body.length)
    ex.sendResponseHeaders(code, body.length)
    ex.getResponseBody.write(body); ex.close()
  }
  Seq("accounts.csv", "clients.csv").foreach { f =>
    server.createContext(s"/download/$f", (ex: HttpExchange) => reply(ex, 200, files(f)))
  }
  server.createContext("/transactions", (ex: HttpExchange) => {
    val q = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
      .flatMap(_.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }).toMap
    (q.get("page").flatMap(_.toIntOption), q.get("limit").flatMap(_.toIntOption)) match {
      case (Some(p), Some(`pageRows`)) if p >= 0 =>
        reply(ex, 200, if (p < pages.size) pages(p) else emptyPage)
      case _ => reply(ex, 400, "bad page or limit".getBytes("UTF-8"))
    }
  })
  server.setExecutor(pool)
  server.start()

  val base = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

/** `etl_pipeline`: the reference pipeline end to end. One pass runs
  * `Main.run` with the default driver-side ingest and again with the
  * DataSourceV2 connector, each loading into a fresh in-memory Derby
  * database and followed by collecting the three views. Inputs are
  * rendered by `etldata.py` into `dir` before the JVM starts. */
final class EtlWorkload(spark: SparkSession, dir: File, threads: Int) extends Workload {
  private val expected = EtlExpected.parse(
    new String(Files.readAllBytes(new File(dir, "expected.json").toPath), "UTF-8"))
  private val completion = expected.completion
  private val pageRows = expected.pageRows
  private var api: StubApi = _
  private val dbSeq = new AtomicLong
  private val rowsIngested = new AtomicLong
  private val token = "perfbench-token"
  private val derbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"
  Class.forName(derbyDriver)

  def inputBytes: Long =
    Option(dir.listFiles).toSeq.flatten.filter(_.getName.endsWith(".csv")).map(_.length).sum +
      Option(new File(dir, "pages").listFiles).toSeq.flatten.map(_.length).sum

  def stage(): Unit = {
    val files = Seq("accounts.csv", "clients.csv")
      .map(f => f -> Files.readAllBytes(new File(dir, f).toPath)).toMap
    val pages = Option(new File(dir, "pages").listFiles).toSeq.flatten
      .sortBy(_.getName).map(f => Files.readAllBytes(f.toPath)).toIndexedSeq
    api = new StubApi(files, pages, pageRows, threads)
  }

  override def close(): Unit = if (api != null) api.stop()

  override def counters: Map[String, Double] = Map(
    "sources.http_requests" -> api.requests.get.toDouble,
    "sources.http_bytes" -> api.bytes.get.toDouble,
    "sources.rows_ingested" -> rowsIngested.get.toDouble)

  private def props(): java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("driver", derbyDriver)
    p
  }

  /** A fresh in-memory Derby database for `body`, dropped afterwards. */
  private def withDerby[T](body: String => T): T = {
    val name = s"perfbench_${dbSeq.incrementAndGet()}"
    try body(s"jdbc:derby:memory:$name;create=true")
    finally {
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true").close()
      catch { case _: java.sql.SQLException => () } // a successful drop reports 08006
    }
  }

  private def digest(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "\\N"
      case d: java.math.BigDecimal => d.toPlainString
      case x => x.toString
    }
    val text = rows.map(_.toSeq.map(render).mkString("|")).sorted.mkString("\n")
    MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** Collects the three views and compares their digests. */
  private def checkViews(): Option[String] =
    EtlExpected.Views.flatMap { v =>
      val got = digest(spark.sql(s"SELECT * FROM $v").collect())
      if (got == expected.views(v)) None else Some(s"$v digest $got")
    }.headOption

  /** Reads the loaded row counts back over plain JDBC. */
  private def checkDerby(url: String): Option[String] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try Seq("clients", "accounts", "transactions").zip(completion).flatMap { case (t, n) =>
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $t")
      rs.next()
      val back = rs.getLong(1)
      if (back == n) None else Some(s"derby $t has $back rows, expected $n")
    }.headOption
    finally conn.close()
  }

  private def mainRun(connector: Boolean): Option[String] = withDerby { url =>
    val env = Map(
      "API_BASE_URL" -> api.base,
      "ADMIN_API_KEY" -> token,
      "GRAFT_JDBC_URL" -> url,
      "GRAFT_JDBC_DRIVER" -> derbyDriver) ++
      (if (connector) Map("GRAFT_CONNECTOR" -> "dsv2") else Map.empty)
    val out = Seq.newBuilder[String]
    val result = Main.run(spark, env.get, out += _)
    if (!connector) rowsIngested.addAndGet(expected.rawTransactions)
    val line = s"ZYLYTY Data Import Completed [${completion.mkString(", ")}]"
    if (result.completionLine != line || !out.result().lastOption.contains(line))
      Some(s"completion line '${result.completionLine}', expected '$line'")
    else checkViews().orElse(checkDerby(url))
  }

  def calls(iter: Int): Seq[Call] = Seq(
    Call("etl.default", "Pipeline", () => mainRun(connector = false)),
    Call("etl.dsv2", "Pipeline", () => mainRun(connector = true)))

  // the Pipeline.run steps one at a time, each forced, for the traced run
  private var raw: DataFrame = _
  private var cleaned: DataFrame = _
  private def expect(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: $got rows, expected $want")

  override def stepCalls: Seq[Call] = {
    val fetch = new HttpFetch(bearerToken = Some(token))
    Seq(
      Call("step.csv", "Pipeline", () => {
        val a = CsvHttpSource.readOrEmpty(spark, s"${api.base}/download/accounts.csv",
          RefSchemas.accounts, fetch)
        val c = CsvHttpSource.readOrEmpty(spark, s"${api.base}/download/clients.csv",
          RefSchemas.clients, fetch)
        a.createOrReplaceTempView("accounts")
        c.createOrReplaceTempView("clients")
        expect("accounts", a.count(), completion(1)).orElse(expect("clients", c.count(), completion(0)))
      }),
      Call("step.pages", "Pipeline", () => {
        raw = PaginatedJsonSource.read(spark, s"${api.base}/transactions", fetch, limit = pageRows)
        expect("raw transactions", raw.count(), expected.rawTransactions)
      }),
      Call("step.clean", "Pipeline", () => {
        cleaned = Pipeline.cleanTransactions(spark, raw)
        expect("clean transactions", cleaned.count(), completion(2))
      }),
      Call("step.views", "Pipeline", () => {
        cleaned.createOrReplaceTempView("transactions")
        Pipeline.createViews(spark)
        checkViews()
      }),
      Call("step.jdbc_load", "Pipeline", () => withDerby { url =>
        Pipeline.saveTablesJdbc(spark, url, props())
        checkDerby(url)
      }),
      Call("step.dsv2", "Pipeline", () => {
        val n = spark.read.format("graft.sources.v2.PaginatedHttpTableProvider")
          .option("url", s"${api.base}/transactions")
          .option("pages", 301).option("limit", pageRows).option("token", token)
          .load().count()
        expect("connector rows", n, expected.rawTransactions)
      }))
  }
}

/** The fields of `expected.json` (written by `etldata.py`) the checks use. */
final case class EtlExpected(completion: Seq[Long], pageRows: Int, rawTransactions: Long,
                             views: Map[String, String])

object EtlExpected {
  val Views = Seq("client_transaction_counts", "monthly_transaction_summary",
    "high_transaction_accounts")

  def parse(text: String): EtlExpected = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(text)
    EtlExpected((j \ "completion").extract[Seq[Long]], (j \ "page_rows").extract[Int],
      (j \ "raw_transactions").extract[Long], (j \ "views").extract[Map[String, String]])
  }
}
