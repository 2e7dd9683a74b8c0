package graft.model

import org.apache.spark.sql.types._

/** Schemas and typed row models, per `BASELINE.json` `input_hint`:
  * `doc_id:string, spans:array<struct<kind:string,text:string,
  * media_ref:string,offset:int32>>`. Field names match the parquet/Iceberg
  * columns exactly so `df.as[Doc]` needs no renames.
  *
  * Reference mapping (SURVEY.md §1.5): a `Doc` is the reference's
  * `(content, filename)` request (`main.py:478-479`); a `Span` generalizes
  * its page record `{page, text}` (`main.py:369-372`) to interleaved
  * text/html/pdf/image content; `DocOut` is the fixed-schema version of the
  * reference's dynamic JSON response (`main.py:567-578`).
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

final case class Doc(doc_id: String, spans: Seq[Span])

final case class DocOut(
    doc_id: String,
    spans: Seq[Span],            // cleaned, empty-dropped, offset re-numbered 0..n-1
    confidence: Double,          // avg over PHYSICAL pages incl. dropped (main.py:397,546)
    detected_language: String,   // LangDetect over " ".join(kept texts) (main.py:400-401)
    total_pages: Int,            // count of KEPT spans (main.py:437,574,701)
    character_count: Long)       // sum of kept span text lengths (main.py:438,575,694)

/** A schedulable unit of extraction work. `nsalts == 1` → the unit is the
  * whole doc (common path, no reassembly shuffle). `nsalts > 1` → one salted
  * page-range slice of a skewed mega-doc (SURVEY.md §4.2 salting).
  * `spanFrom` is the index of the first span covered; for pdf page slices
  * `pageFrom`/`pageTo` bound the 1-based page range within that span. */
final case class WorkUnit(
    doc_id: String,
    salt: Int,
    nsalts: Int,
    spans: Seq[Span],
    pageFrom: Int,
    pageTo: Int)

/** One extracted (kept or image-empty) page, pre-reassembly. `in_offset` is
  * the source span's offset; `page` the 1-based page within it — together
  * they define the total output order (in_offset asc, page asc). */
final case class PageOut(kind: String, text: String, media_ref: String, in_offset: Int, page: Int)

/** Extraction result of one WorkUnit: kept pages + the physical page count
  * and confidence sum over ALL pages processed (incl. dropped empties —
  * main.py:532 accumulates outside the keep-`if`). */
final case class UnitOut(
    doc_id: String,
    salt: Int,
    nsalts: Int,
    pages: Seq[PageOut],
    physical_pages: Int,
    confidence_sum: Double)

/** Per-partition lineage row (north rule: "per-partition lineage and
  * span-count/byte metrics ... alongside snapshot checkpoints"). */
final case class LineageRow(
    run_id: String,
    path: String,        // "common" | "salted" — which pipeline branch
    partition_id: Int,
    doc_id_min: String,
    doc_id_max: String,
    doc_count: Long,
    span_count: Long,
    byte_count: Long,
    wall_ms: Long)

/** One doc of the size guard's rejected side output
  * (`<out>_rejected/run_id=<id>`): it never reaches the kernel. */
final case class RejectedDoc(doc_id: String, byte_est: Long, reason: String)

object Schemas {
  val span: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("media_ref", StringType, nullable = true),
    StructField("offset", IntegerType, nullable = true)))

  val doc: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = true),
    StructField("spans", ArrayType(span, containsNull = true), nullable = true)))
}
