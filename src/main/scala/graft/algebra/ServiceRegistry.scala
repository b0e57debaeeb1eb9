package graft.algebra

import scala.collection.concurrent.TrieMap

/**
 * SERVICE endpoint registry — the Spark mapping of the reference's
 * federated execution (jena-arq/.../sparql/service/ServiceExec.java:37–70
 * + ServiceExecutorRegistry). Over HTTP the reference streams the inner
 * pattern to a remote SPARQL server and joins the returned bindings
 * locally; here an "endpoint" is anything that can serve a GraphSource —
 * another snapshot store, another in-session dataset, or (in a deployment
 * with egress) an ExtOp wrapping an HTTP client. Execution stays
 * SET-AT-A-TIME: the inner pattern compiles against the endpoint's source
 * and the result hash-joins with the outer bindings — the distributed
 * twin of the reference's per-binding-batch VALUES injection.
 *
 * The registry is process-global like the reference's
 * ServiceExecutorRegistry (and this repo's function registry): endpoints
 * are deployment wiring, not query state.
 */
object ServiceRegistry {

  /**
   * HTTP transport seam — the pluggable client a deployment WITH egress
   * implements (the reference's QueryExecHTTP,
   * jena-arq/.../sparql/exec/http/QueryExecHTTP.java). The engine hands it
   * the endpoint IRI and a SELF-CONTAINED query string (the SERVICE
   * body's source text, prologue included — outer bindings batch in via
   * the normal hash join, or a VALUES block a batching implementation
   * may inject); the transport returns (contentType, body) of a W3C
   * result-set document, parsed by [[parseResults]] with the repo's own
   * readers (JSON / XML / TSV). The zero-egress in-sandbox implementation
   * is [[LoopbackTransport]], which round-trips through the same wire
   * format against a local graph.
   */
  trait ServiceTransport {
    /** Execute `query` against `endpointIri`; returns (contentType, body). */
    def execute(endpointIri: String, query: String): (String, String)
  }

  /** In-process transport: runs the query on a local graph and serializes
   * the result set through the SPARQL-JSON wire format — proving the
   * seam round-trips without network egress. */
  final class LoopbackTransport(graph: org.apache.spark.sql.DataFrame)
      extends ServiceTransport {
    def execute(endpointIri: String, query: String): (String, String) =
      ("application/sparql-results+json",
        graft.riot.ResultSetIO.toSparqlJson(
          graft.sparql.Sparql.select(query, graph)))
  }

  /** Real HTTP implementation of the seam over `java.net.http.HttpClient`
   * — the deployment client (reference: QueryExecHTTP.java's request
   * construction: GET with a `query` param for short queries, else POST
   * with `application/sparql-query`; Accept negotiates the W3C result
   * formats this repo parses). Constructed lazily and never connecting
   * until `execute`, so it is safe to instantiate in a zero-egress
   * environment; unit tests drive it against an in-process loopback
   * server. Non-2xx responses throw, and so does a body longer than
   * `maxBodyBytes`: the endpoint is outside input, and the whole body is
   * held in driver memory (SERVICE SILENT maps either to the unit table
   * upstream, QueryExecHTTP-style). */
  final class HttpServiceTransport(
      timeoutSeconds: Long = 60,
      /** GET/POST switch on total URL length — QueryExecHTTP's urlLimit. */
      urlLimit: Int = 2 * 1024,
      maxBodyBytes: Int = 64 * 1024 * 1024) extends ServiceTransport {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    require(maxBodyBytes >= 0 && maxBodyBytes < Int.MaxValue,
      s"maxBodyBytes $maxBodyBytes out of range")

    private lazy val client: HttpClient = HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(timeoutSeconds))
      .followRedirects(HttpClient.Redirect.NORMAL)
      .build()

    private val accept =
      "application/sparql-results+json, " +
        "application/sparql-results+xml;q=0.9, " +
        "text/tab-separated-values;q=0.7"

    def execute(endpointIri: String, query: String): (String, String) = {
      val enc = java.net.URLEncoder.encode(query, "UTF-8")
      val getUri = s"$endpointIri${if (endpointIri.contains("?")) "&" else "?"}query=$enc"
      val builder =
        if (getUri.length <= urlLimit)
          HttpRequest.newBuilder(java.net.URI.create(getUri)).GET()
        else
          HttpRequest.newBuilder(java.net.URI.create(endpointIri))
            .header("Content-Type", "application/sparql-query")
            .POST(HttpRequest.BodyPublishers.ofString(query))
      val req = builder
        .header("Accept", accept)
        .timeout(java.time.Duration.ofSeconds(timeoutSeconds))
        .build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofInputStream())
      // one byte past the cap tells an oversized body from one that fits
      val bytes = {
        val in = resp.body()
        try in.readNBytes(maxBodyBytes + 1) finally in.close()
      }
      def body = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      if (resp.statusCode() / 100 != 2)
        throw new RuntimeException(
          s"SERVICE <$endpointIri> HTTP ${resp.statusCode()}: " + body.take(200))
      if (bytes.length > maxBodyBytes)
        throw new RuntimeException(
          s"SERVICE <$endpointIri> response body exceeds the $maxBodyBytes-byte cap")
      val ct = resp.headers().firstValue("Content-Type")
        .orElse("application/sparql-results+json")
      (ct, body)
    }
  }

  /** Parse a transport response by content type with the repo's result-set
   * readers. */
  def parseResults(spark: org.apache.spark.sql.SparkSession,
                   contentType: String, body: String): org.apache.spark.sql.DataFrame = {
    val ct = contentType.toLowerCase
    if (ct.contains("json")) graft.riot.ResultSetIO.fromSparqlJson(spark, body)
    else if (ct.contains("xml")) graft.riot.ResultSetIO.fromSparqlXml(spark, body)
    else if (ct.contains("tab-separated") || ct.contains("tsv"))
      graft.riot.ResultSetIO.fromTsv(spark, body)
    else throw new IllegalArgumentException(
      s"unsupported SERVICE response content type: $contentType")
  }

  private val endpoints = TrieMap[String, Compiler.GraphSource]()
  private val transports = TrieMap[String, ServiceTransport]()

  def register(iri: String, source: Compiler.GraphSource): Unit =
    endpoints.put(iri, source)

  def registerTransport(iri: String, t: ServiceTransport): Unit =
    transports.put(iri, t)

  def unregister(iri: String): Unit = { endpoints.remove(iri); transports.remove(iri) }

  def lookup(iri: String): Option[Compiler.GraphSource] = endpoints.get(iri)

  def lookupTransport(iri: String): Option[ServiceTransport] = transports.get(iri)

  /** Registered (iri, source) pairs, deterministic order — the
   * enumeration set for SERVICE with a VARIABLE target. */
  def all: Seq[(String, Compiler.GraphSource)] =
    endpoints.toSeq.sortBy(_._1)

  /** Registered (iri, transport) pairs, deterministic order. */
  def allTransports: Seq[(String, ServiceTransport)] =
    transports.toSeq.sortBy(_._1)

  def clear(): Unit = { endpoints.clear(); transports.clear() }
}
