package perfbench

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

/** HTTP client side of the benchmark and the checks on query responses. */
object Http {

  val client: HttpClient = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(java.time.Duration.ofSeconds(10))
    .build()

  final case class Reply(status: Int, body: Array[Byte])

  private def enc(s: String) = java.net.URLEncoder.encode(s, UTF_8)

  def queryRangeUri(port: Int, q: String, startMs: Long, endMs: Long, stepMs: Long): URI =
    URI.create(s"http://127.0.0.1:$port/api/v1/query_range?query=${enc(q)}" +
      s"&start=${secs(startMs)}&end=${secs(endMs)}&step=${secs(stepMs)}")

  /** milliseconds as a decimal seconds string (no exponent) */
  def secs(ms: Long): String = java.math.BigDecimal.valueOf(ms, 3).toPlainString

  def get(uri: URI): Reply = {
    val r = client.send(HttpRequest.newBuilder(uri).GET()
      .timeout(java.time.Duration.ofSeconds(150)).build(), HttpResponse.BodyHandlers.ofByteArray())
    Reply(r.statusCode, r.body)
  }

  /** PRW 1.0 write: snappy-compressed protobuf body */
  def write(port: Int, body: Array[Byte]): Reply = {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/write"))
      .header("Content-Type", "application/x-protobuf")
      .header("Content-Encoding", "snappy")
      .header("X-Prometheus-Remote-Write-Version", "0.1.0")
      .timeout(java.time.Duration.ofSeconds(150))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    Reply(r.statusCode, r.body)
  }

  /** One series of a matrix response: its labels and (ms, value) points. */
  final case class Series(labels: Map[String, String], ts: Array[Long], vs: Array[Double])

  private val factory = new JsonFactory()

  /** Parse a `query_range` matrix response. Left(message) when the body is
    * not a successful matrix. */
  def parseMatrix(body: Array[Byte]): Either[String, Seq[Series]] = {
    val p = factory.createParser(body)
    try {
      var status = ""
      var rtype = ""
      var result: Seq[Series] = null
      if (p.nextToken() != JsonToken.START_OBJECT) return Left("not a JSON object")
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val f = p.currentName()
        p.nextToken()
        f match {
          case "status" => status = p.getText
          case "data" =>
            while (p.nextToken() == JsonToken.FIELD_NAME) {
              val g = p.currentName()
              p.nextToken()
              g match {
                case "resultType" => rtype = p.getText
                case "result" => result = parseResult(p)
                case _ => p.skipChildren()
              }
            }
          case _ => p.skipChildren()
        }
      }
      if (status != "success") Left(s"status '$status'")
      else if (rtype != "matrix") Left(s"resultType '$rtype'")
      else if (result == null) Left("no result")
      else Right(result)
    } catch {
      case e: Exception => Left(s"unparseable response: ${e.getMessage}")
    } finally p.close()
  }

  private def parseResult(p: JsonParser): Seq[Series] = {
    val out = Seq.newBuilder[Series]
    while (p.nextToken() == JsonToken.START_OBJECT) {
      var labels = Map.empty[String, String]
      val ts = Array.newBuilder[Long]
      val vs = Array.newBuilder[Double]
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val f = p.currentName()
        p.nextToken()
        f match {
          case "metric" =>
            while (p.nextToken() == JsonToken.FIELD_NAME) {
              val k = p.currentName(); p.nextToken(); labels += k -> p.getText
            }
          case "values" =>
            while (p.nextToken() == JsonToken.START_ARRAY) {
              p.nextToken(); ts += math.round(p.getDoubleValue * 1000.0)
              p.nextToken(); vs += parseValue(p.getText)
              p.nextToken() // END_ARRAY
            }
          case _ => p.skipChildren()
        }
      }
      out += Series(labels, ts.result(), vs.result())
    }
    out.result()
  }

  private def parseValue(s: String): Double = s match {
    case "NaN" => Double.NaN
    case "+Inf" => Double.PositiveInfinity
    case "-Inf" => Double.NegativeInfinity
    case x => x.toDouble
  }

  def close(v: Double, want: Double): Boolean =
    math.abs(v - want) <= 1e-9 * math.max(1.0, math.abs(want))

  /** order-independent digest of a matrix result (labels, timestamps and
    * values), for comparing two runs' outputs */
  def digest(ss: Seq[Series]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ss.map { s =>
      val sb = new StringBuilder(s.labels.toSeq.sorted.mkString(","))
      s.ts.indices.foreach(i => sb.append(';').append(s.ts(i)).append('=')
        .append(java.lang.Double.doubleToLongBits(s.vs(i))))
      sb.toString
    }.sorted.foreach(x => md.update(x.getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }
}
