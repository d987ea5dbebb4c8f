package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** Percentiles of a sample. */
object Stats {
  /** Nearest-rank percentile (p in 0..100) of an unsorted sample; NaN if empty. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }
}

/** JSON in and out, through the Jackson that ships with Spark. */
object Json {
  val mapper = new ObjectMapper()

  def obj(): ObjectNode = mapper.createObjectNode()

  /** An object of numbers; non-finite values have no JSON spelling, so they
    * become null (and the result line marks the run incorrect). */
  def nums(xs: Iterable[(String, Double)]): ObjectNode = {
    val o = obj()
    xs.foreach { case (k, v) => if (v.isNaN || v.isInfinite) o.putNull(k) else o.put(k, v) }
    o
  }

  def write(n: JsonNode): String = mapper.writeValueAsString(n)

  def read(s: String): JsonNode = mapper.readTree(s)

  /** Fields of a flat object, each value as its text. */
  def fields(n: JsonNode): Map[String, String] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
}
