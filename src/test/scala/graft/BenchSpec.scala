package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Bench's level plan, its contract line and the shared JSON escaper —
  * pure functions, so no child JVM and no Spark session start here. */
class BenchSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def parse(line: String): JsonNode = mapper.readTree(line)

  /** The keys the contract line has always carried (scaling_error only
    * when the scaling phase failed), plus skipped_levels. */
  private val ContractKeys = Set("metric", "value", "unit", "headline_level", "rates",
    "skipped_levels", "scaling", "scaling_8_32", "calibration", "queries_total_sec",
    "queries_detail", "sf")

  private def pairs(lo: Int, hi: Int): Seq[Map[Int, Double]] =
    Seq(Map(lo -> 36000.0, hi -> 130000.0), Map(lo -> 37000.0, hi -> 143000.0),
      Map(lo -> 35500.0, hi -> 120000.0))

  test("level plan: the pair is nproc/4 -> nproc; levels above nproc are skipped") {
    assert(Bench.plan(1) == (Seq(1), Seq(4, 8, 32)))
    assert(Bench.plan(4) == (Seq(1, 4), Seq(8, 32)))
    assert(Bench.plan(16) == (Seq(4, 16), Seq(32)))
    assert(Bench.plan(32) == (Seq(8, 32), Nil))
  }

  test("contract line on 4 cores: headline local[4], rates for 1 and 4, 8 and 32 skipped") {
    val j = parse(Bench.contractLine(4, pairs(1, 4), None, 61.5, "data/sf0.1"))
    assert(j.fieldNames.asScala.toSet == ContractKeys)
    assert(j.get("headline_level").asInt == 4)
    assert(j.get("value").asDouble == 143000.0)
    assert(j.get("rates").fieldNames.asScala.toSeq == Seq("1", "4"))
    assert(j.get("rates").get("1").asDouble == 37000.0)
    assert(j.get("skipped_levels").elements.asScala.map(_.asInt).toSeq == Seq(8, 32))
    assert(j.get("scaling_8_32").isNull && j.get("calibration").isNull)
    val s = j.get("scaling")
    assert(s.get("n_cores").asInt == 1 && s.get("four_n_cores").asInt == 4)
    assert(s.get("num_docs").asInt == Bench.Docs)
    val effs = s.get("pair_efficiencies").elements.asScala.map(_.asDouble).toSeq
    assert(effs == Seq(0.903, 0.966, 0.845))
    assert(s.get("efficiency").asDouble == 0.903)
  }

  test("contract line on 32 cores: the pair is 8->32 and the headline is the 8-core leg") {
    val line = Bench.contractLine(32, pairs(8, 32), None, 61.5, "data/sf0.1")
    val j = parse(line)
    assert(j.get("headline_level").asInt == 8)
    assert(j.get("value").asDouble == 37000.0)
    assert(j.get("skipped_levels").isEmpty)
    assert(j.get("scaling_8_32") == j.get("scaling"))
    assert(line.length < 2000, line.length)
  }

  test("a failed scaling phase keeps every key and stays inside the 2000-char tail") {
    val err = "\"\\" * 150 // 200 chars after truncation, 400 once escaped
    val line = Bench.contractLine(4, Nil, Some(err), 0.0, "data/sf0.1")
    assert(line.length < 2000, line.length)
    val j = parse(line)
    assert(j.fieldNames.asScala.toSet == ContractKeys + "scaling_error")
    assert(j.get("scaling_error").asText == err.take(200))
    assert(j.get("scaling").isNull && j.get("value").asDouble == 0.0)
    assert(j.get("rates").isEmpty)
    // a cut between a surrogate pair drops the lone high surrogate
    val astral = "a" * 199 + "\uD834\uDD1E"
    val k = parse(Bench.contractLine(4, Nil, Some(astral), 0.0, "data/sf0.1"))
    assert(k.get("scaling_error").asText == "a" * 199)
  }

  test("Json.str round-trips quotes, backslashes, every control char and non-BMP text") {
    val s = "say \"hi\" \\d+ " + (0 until 0x20).map(_.toChar).mkString + " \uD834\uDD1E ü €"
    assert(mapper.readValue(Json.str(s), classOf[String]) == s)
    assert(Json.str("tab\tend") == "\"tab\\tend\"")
    assert(Json.str("\u0001") == "\"\\u0001\"")
  }
}
