package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.TweetPipeline

/** S4/E1 — HTTP ingestion of single JSON tweets (reference
  * README.md:52-54, 76-78, 108-110: Akka HTTP `POST /tweets` on :8080;
  * the intended impl `App/ApiController/scala.scala:1-5` is an empty
  * stub). No Akka jar exists in this env, so the endpoint is the JDK's
  * built-in httpserver — the HTTP surface is a demo-grade front door;
  * the real contract is what happens after the boundary:
  *
  *   HTTP thread → MemoryStream.addData (thread boundary #1)
  *     → micro-batch thread runs TweetPipeline.enrich — the SAME plan
  *       as the batch path (boundary #2: driver → executors).
  *
  * Reply contract of `/tweets`:
  *   - an accepted POST gets 200 with `Content-Length: 0` and no body;
  *   - a body over [[HttpIngest.MaxBodyBytes]] gets 413 and is not added;
  *   - any other method gets 405; a failed `addData` gets 500. These
  *     three carry a JSON `{"error": ...}` body.
  *
  * The 200 reply has no body so that it leaves in ONE packet. The JDK
  * server writes headers and body separately and does not set
  * `TCP_NODELAY`, so Nagle's algorithm holds a body back until the
  * client acknowledges the headers, and the client delays that ACK by
  * ~40 ms: a keep-alive client then waits ~44 ms per POST, about 22
  * tweets/s on one connection. (The JVM-wide `sun.net.httpserver.nodelay`
  * property is no fix: it is read once, when the server class loads.)
  *
  * The stream has ONE input partition per micro-batch. `MemoryStream`
  * otherwise turns every `addData` call into its own partition, so each
  * POSTed tweet cost a task and a sink file of its own. Enrichment is a
  * per-row projection with no shuffle, so at HTTP rates a single task
  * per batch loses no useful parallelism.
  *
  * At scale the front door would be Kafka (`format("kafka")` drop-in,
  * SURVEY.md S5); everything from `enriched` down is unchanged — that
  * is the point of putting the source behind a DataFrame.
  */
final class HttpIngest(spark: SparkSession, port: Int = 0) {
  import spark.implicits._
  import HttpIngest.MaxBodyBytes

  private val stream = MemoryStream[String](spark, 1)

  /** The enriched streaming frame — start a writeStream on it. */
  val enriched: DataFrame = TweetPipeline.parseJson(stream.toDF().toDF("json"), "json")

  private val server: HttpServer = {
    val s = HttpServer.create(new InetSocketAddress(port), 0)
    s.createContext("/tweets", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        // (status, error message); None = accepted, no reply body
        val (status, error) = try {
          if (x.getRequestMethod != "POST") (405, Some("POST only"))
          else {
            val body = x.getRequestBody.readNBytes(MaxBodyBytes + 1)
            if (body.length > MaxBodyBytes) (413, Some(s"body over $MaxBodyBytes bytes"))
            else {
              stream.addData(new String(body, StandardCharsets.UTF_8))
              (200, None)
            }
          }
        } catch { case e: Exception => (500, Some(e.getMessage)) }
        error match {
          case None => x.sendResponseHeaders(status, -1)
          case Some(msg) =>
            val bytes = s"""{"error":"${jsonEscape(msg)}"}""".getBytes(StandardCharsets.UTF_8)
            x.getResponseHeaders.set("Content-Type", "application/json")
            x.sendResponseHeaders(status, bytes.length)
            x.getResponseBody.write(bytes)
        }
        x.close()
      }
    })
    s.start()
    s
  }

  /** Escape a string for embedding in a JSON double-quoted literal —
    * exception messages may contain quotes/backslashes/control chars. */
  private def jsonEscape(s: String): String =
    Option(s).getOrElse("null").flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Bound port (useful when constructed with port=0 for tests). */
  def boundPort: Int = server.getAddress.getPort

  /** Push a payload directly (the path the HTTP handler takes). */
  def ingest(json: String): Unit = stream.addData(json)

  def stop(): Unit = server.stop(0)
}

object HttpIngest {
  /** Largest accepted request body, in bytes; a tweet is a few hundred.
    * The handler reads at most one byte more, so an oversized body never
    * reaches memory whole. */
  val MaxBodyBytes: Int = 64 * 1024
}
