package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.core.{JsonParser, JsonProcessingException}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

/** Reads what a `FileEventSink` wrote and strict-parses envelopes with the
  * Jackson that ships with Spark: no trailing tokens, no duplicate keys,
  * no leading zeros on numbers (Jackson's default).
  */
object Envelopes {
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION)

  /** One sink record: shard sequence number, partition key, arrival time
    * (epoch ms) and the raw envelope string.
    */
  final case class Line(seq: Long, partitionKey: String, arrivalMs: Long, envelope: String)

  def read(sinkDir: Path): Vector[Line] = {
    val f = sinkDir.resolve("shard-00000.jsonl")
    if (!Files.exists(f)) Vector.empty
    else Files.readAllLines(f, StandardCharsets.UTF_8).asScala.iterator.filter(_.nonEmpty).map { l =>
      val n = mapper.readTree(l)
      Line(n.get("seq").asLong, n.get("partitionKey").asText, n.get("arrivalTs").asLong,
        n.get("envelope").asText)
    }.toVector
  }

  def parse(envelope: String): Option[JsonNode] =
    try Option(mapper.readTree(envelope)) catch { case _: JsonProcessingException => None }

  /** A scalar field as text: numbers in their JSON spelling, null as null. */
  def text(n: JsonNode): String =
    if (n == null || n.isNull) null else if (n.isValueNode) n.asText else n.toString

  def meta(env: JsonNode, field: String): String = text(env.path("metadata").get(field))

  /** The `data` object's fields, in order. */
  def data(env: JsonNode): Seq[(String, String)] = {
    val d = env.get("data")
    if (d == null || !d.isObject) Seq.empty
    else d.properties().iterator.asScala.map(e => e.getKey -> text(e.getValue)).toSeq
  }
}
