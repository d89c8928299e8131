package perfbench

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the launcher protocol: parse to Scala maps, sequences,
  * `BigDecimal` numbers, strings, booleans and null; write Scala values.
  */
object Json {
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .enable(DeserializationFeature.USE_BIG_INTEGER_FOR_INTS)

  def parse(s: String): Any = scalaOf(mapper.readValue(s, classOf[Object]))

  // the Scala module reads untyped containers as Scala collections
  private def scalaOf(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> scalaOf(x) }.toMap
    case l: Iterable[_]                => l.map(scalaOf).toSeq
    case b: java.math.BigDecimal      => BigDecimal(b)
    case i: java.math.BigInteger      => BigDecimal(i)
    case n: java.lang.Number          => BigDecimal(n.toString)
    case other                        => other
  }

  def write(v: Any): String = mapper.writeValueAsString(v)
}
