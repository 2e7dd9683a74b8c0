package graft.tools

import graft.Json
import graft.media.{DeterministicMediaStore, DeterministicOcr}
import graft.pipeline.{ExtractConf, ExtractKernel, Fixtures}
import java.nio.file.{Files, Paths}

/** Differential-test helper: dump the fixture corpus's raw per-page OCR pass
  * texts (pre-clean, pre-consensus) as JSON. The golden generator
  * (`scripts/gen_golden.py`, driver-side Python) then runs the REFERENCE's
  * own pure functions (`clean_text_for_json`, `get_consensus_text`,
  * `calculate_confidence`, `detect_language_from_text` from
  * `/root/reference/main.py`) over this dump with the reference's
  * orchestration, producing golden DocOut records that
  * `GoldenPipelineSpec` asserts the Spark pipeline reproduces exactly.
  * No Spark needed here — this is the pure kernel path.
  */
object DumpRaw {

  def dumpJson(level: String): String = {
    val conf = ExtractConf(level = level)
    val docs = Fixtures.testDocs.map { d =>
      val pages = ExtractKernel.plan(d, DeterministicMediaStore, conf)
        .flatMap(u => ExtractKernel.rawPages(u, DeterministicMediaStore, DeterministicOcr, conf))
      val pagesJson = pages.map { p =>
        s"""{"kind":${Json.str(p.kind)},"media_ref":${Json.str(p.media_ref)},""" +
          s""""in_offset":${p.in_offset},"page":${p.page},"keep_empty":${p.keepEmpty},""" +
          s""""passes":${p.passes.map(Json.str).mkString("[", ",", "]")}}"""
      }.mkString("[", ",", "]")
      s"""{"doc_id":${Json.str(d.doc_id)},"pages":$pagesJson}"""
    }.mkString("[", ",", "]")
    s"""{"level":${Json.str(level)},"docs":$docs}"""
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_dump")
    Files.createDirectories(Paths.get(outDir))
    Seq("low", "medium", "high", "ultra").foreach { lvl =>
      Files.writeString(Paths.get(s"$outDir/raw_$lvl.json"), dumpJson(lvl))
    }
    println(s"wrote raw dumps to $outDir")
  }
}
