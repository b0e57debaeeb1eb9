package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.algebra.{Compiler, ServiceRegistry}
import graft.model.{Term, Triple}
import graft.sparql.Sparql

/**
 * The REAL `HttpServiceTransport` (java.net.http) driven through real
 * loopback sockets: an in-process HTTP server backed by this engine
 * serves W3C result documents, and a federated query exercises the full
 * chain — request construction (GET query-param vs POST
 * application/sparql-query, QueryExecHTTP.java's urlLimit switch),
 * status handling, content-type dispatch, and result parsing — with
 * zero egress. */
class HttpServiceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val EX = "http://example/"
  private def i(s: String) = Term.iri(EX + s)

  private lazy val localGraph: DataFrame = {
    import spark.implicits._
    spark.createDataset(Seq(
      Triple(i("alice"), i("name"), Term.string("Alice")),
      Triple(i("bob"), i("name"), Term.string("Bob")))).toDF()
  }
  private lazy val remoteGraph: DataFrame = {
    import spark.implicits._
    spark.createDataset(Seq(
      Triple(i("alice"), i("email"), Term.string("alice@example")),
      Triple(i("bob"), i("email"), Term.string("bob@example")))).toDF()
  }

  private def lexes(df: DataFrame, c: String): Set[String] =
    df.select(col(c).getField("lex")).collect().map(_.getString(0)).toSet

  /** Mini SPARQL endpoint over `remoteGraph`: accepts GET ?query= and
   * POST application/sparql-query, answers SPARQL-JSON (or XML when the
   * path says so). Records which HTTP method served each request. */
  private def withServer[A](asXml: Boolean = false)(
      f: (String, () => Seq[String]) => A): A = {
    val methods = scala.collection.mutable.ArrayBuffer[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/sparql", ex => {
      val q = ex.getRequestMethod match {
        case "GET" =>
          val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
          raw.split("&").collectFirst {
            case kv if kv.startsWith("query=") =>
              java.net.URLDecoder.decode(kv.drop(6), "UTF-8")
          }.getOrElse("")
        case _ =>
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      }
      methods.synchronized { methods += ex.getRequestMethod }
      val (ct, body) =
        try {
          val rs = Sparql.select(q, remoteGraph)
          if (asXml) ("application/sparql-results+xml",
            graft.riot.ResultSetIO.toSparqlXml(rs))
          else ("application/sparql-results+json",
            graft.riot.ResultSetIO.toSparqlJson(rs))
        } catch {
          case e: Throwable => ("text/plain", s"error: ${e.getMessage}")
        }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      val status = if (ct == "text/plain") 500 else 200
      ex.getResponseHeaders.set("Content-Type", ct)
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/sparql"
    try f(url, () => methods.synchronized(methods.toSeq))
    finally server.stop(0)
  }

  test("federated query through the real HTTP client (GET, JSON)") {
    withServer() { (url, methods) =>
      ServiceRegistry.registerTransport(url,
        new ServiceRegistry.HttpServiceTransport())
      try {
        val out = Sparql.select(
          s"""SELECT ?s ?mail WHERE {
                ?s <${EX}name> ?n .
                SERVICE <$url> { ?s <${EX}email> ?mail }
              }""", localGraph)
        assert(lexes(out, "mail") == Set("alice@example", "bob@example"))
        assert(methods().nonEmpty && methods().forall(_ == "GET"))
      } finally ServiceRegistry.clear()
    }
  }

  test("long query switches to POST application/sparql-query") {
    withServer() { (url, methods) =>
      // urlLimit 0 forces the POST path for any query length
      ServiceRegistry.registerTransport(url,
        new ServiceRegistry.HttpServiceTransport(urlLimit = 0))
      try {
        val out = Sparql.select(
          s"""SELECT ?s ?mail WHERE {
                ?s <${EX}name> ?n .
                SERVICE <$url> { ?s <${EX}email> ?mail }
              }""", localGraph)
        assert(lexes(out, "mail") == Set("alice@example", "bob@example"))
        assert(methods().nonEmpty && methods().forall(_ == "POST"))
      } finally ServiceRegistry.clear()
    }
  }

  test("XML response content type dispatches to the XML reader") {
    withServer(asXml = true) { (url, _) =>
      ServiceRegistry.registerTransport(url,
        new ServiceRegistry.HttpServiceTransport())
      try {
        val out = Sparql.select(
          s"""SELECT ?mail WHERE {
                SERVICE <$url> { ?s <${EX}email> ?mail } }""", localGraph)
        assert(lexes(out, "mail") == Set("alice@example", "bob@example"))
      } finally ServiceRegistry.clear()
    }
  }

  test("non-2xx response throws; SERVICE SILENT maps it to the unit table") {
    withServer() { (url, _) =>
      // /missing returns 404 from the bare server
      val bad = url.stripSuffix("/sparql") + "/missing"
      ServiceRegistry.registerTransport(bad,
        new ServiceRegistry.HttpServiceTransport())
      try {
        intercept[Exception] {
          Sparql.select(
            s"""SELECT ?mail WHERE { SERVICE <$bad> { ?s ?p ?mail } }""",
            localGraph).collect()
        }
        val out = Sparql.select(
          s"""SELECT ?s ?n WHERE {
                ?s <${EX}name> ?n .
                SERVICE SILENT <$bad> { ?s <${EX}email> ?mail }
              }""", localGraph)
        assert(out.count() == 2) // unit table joined: left rows survive
      } finally ServiceRegistry.clear()
    }
  }

  test("a body past the size cap fails naming endpoint and cap; SERVICE SILENT maps it to the unit table") {
    withServer() { (url, _) =>
      // the two-row JSON result is far over 64 bytes
      ServiceRegistry.registerTransport(url,
        new ServiceRegistry.HttpServiceTransport(maxBodyBytes = 64))
      try {
        val e = intercept[RuntimeException] {
          Sparql.select(
            s"""SELECT ?mail WHERE { SERVICE <$url> { ?s <${EX}email> ?mail } }""",
            localGraph).collect()
        }
        assert(e.getMessage.contains(url) && e.getMessage.contains("64-byte cap"),
          e.getMessage)
        val out = Sparql.select(
          s"""SELECT ?s ?n WHERE {
                ?s <${EX}name> ?n .
                SERVICE SILENT <$url> { ?s <${EX}email> ?mail }
              }""", localGraph)
        assert(out.count() == 2) // unit table joined: left rows survive
      } finally ServiceRegistry.clear()
    }
  }
}
