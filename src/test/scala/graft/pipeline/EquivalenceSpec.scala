package graft.pipeline

import graft.SparkTestBase
import graft.media.{DeterministicMediaStore, DeterministicOcr, MediaStore, PageMedia}
import graft.model.{Doc, LineageRow, Span}
import org.apache.spark.util.CollectionAccumulator
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Fixture pages, with each pdf ref's page count taken from `pages`. */
final case class PagesStore(pages: Map[String, Int]) extends MediaStore {
  override def pageCount(ref: String): Int = pages(ref)
  override def page(ref: String, p: Int): PageMedia = DeterministicMediaStore.page(ref, p)
}

/** Distributed == sequential over a WIDER corpus than the 50 golden docs:
  * 400 generator docs spanning all classes plus the mega/moderate skew ids,
  * at two levels — any partitioning/salting/merge-order bug that slips past
  * the fixtures shows up here as a span or confidence diff. */
class EquivalenceSpec extends AnyFunSuite {

  for (level <- Seq("low", "ultra")) {
    test(s"extractDS == extractWhole for 400-doc corpus at level=$level") {
      val spark = SparkTestBase.spark
      import spark.implicits._
      val idxs = (1 to 360) ++ Seq(1000, 2000, 3000, 100, 201, 302, 403, 504)
      val docs = idxs.distinct.map(Fixtures.doc)
      val conf = ExtractConf(level = level, numPartitions = 8)
      // one task's page share of this corpus over 8 partitions is below
      // 256, so its megas take the salted path
      val acc = new CollectionAccumulator[LineageRow]
      spark.sparkContext.register(acc, s"400-doc corpus $level")
      val dist = Extract.extractDS(spark, spark.createDataset(docs).repartition(conf.numPartitions),
        conf = conf, lineageAcc = Some(acc))
        .collect().map(d => d.doc_id -> d).toMap
      assert(dist.size == docs.size)
      val salted = acc.value.asScala.filter(_.path == "salted").map(_.doc_count).sum
      assert(salted == 3, s"the 3 megas must take the salted path, $salted did")
      docs.foreach { d =>
        val seq = ExtractKernel.extractWhole(d, DeterministicMediaStore, DeterministicOcr, conf)
        val g = dist(d.doc_id)
        assert(g.spans == seq.spans, s"spans diff for ${d.doc_id} at $level")
        assert(g.confidence == seq.confidence, s"confidence diff for ${d.doc_id}")
        assert(g.detected_language == seq.detected_language)
        assert(g.character_count == seq.character_count)
      }
    }
  }

  // the share rule is the same whether the tail is held on the driver
  // (default cap) or in the persisted pass (cap 0)
  for ((tier, cap) <- Seq("" -> ExtractConf().megaInlineCap, " at megaInlineCap = 0" -> 0)) {
    test(s"a doc exactly at one task's page share is not salted; one page above it is$tier") {
      val spark = SparkTestBase.spark
      import spark.implicits._
      val k = 40 // above the skewPageThreshold floor
      // one single-pdf doc per task of the pass, so the share is k: the
      // target holds k (then k + 1) pages, every other doc k
      val n = spark.sparkContext.defaultParallelism
      val ids = (1 to n).map(i => Fixtures.docId(8 * i))
      val docs = ids.map(id => Doc(id, Seq(Span("pdf", "", s"mem://$id/0", 0))))
      val conf = ExtractConf(numPartitions = 4, megaInlineCap = cap)
      assert(k > conf.skewPageThreshold)
      for (extra <- Seq(0, 1)) {
        val store = PagesStore(docs.map(d => d.spans.head.media_ref -> k).toMap
          .updated(docs.head.spans.head.media_ref, k + extra))
        val acc = new CollectionAccumulator[LineageRow]
        spark.sparkContext.register(acc, s"share boundary +$extra")
        val got = Extract.extractDS(spark, spark.createDataset(docs), store, DeterministicOcr, conf,
          Some(acc)).collect().map(d => d.doc_id -> d).toMap
        val salted = acc.value.asScala.filter(r => r.path == "salted" && r.doc_count > 0)
        if (extra == 0) assert(salted.isEmpty, s"a doc at the share was salted: $salted")
        else {
          assert(salted.map(_.doc_count).sum == 1 &&
            salted.forall(r => r.doc_id_min == ids.head && r.doc_id_max == ids.head),
            s"only the doc one page above the share may be salted: $salted")
        }
        docs.foreach { d =>
          assert(got(d.doc_id) == ExtractKernel.extractWhole(d, store, DeterministicOcr, conf),
            s"${d.doc_id} differs from extractWhole (+$extra)")
        }
        spark.catalog.clearCache() // at cap 0 the result read the persisted pass
      }
    }

    test(s"megas each under the share are salted together when one input partition holds more$tier") {
      val spark = SparkTestBase.spark
      import spark.implicits._
      val k = 40 // above the skewPageThreshold floor
      // n + 1 single-pdf docs of k pages over n pass partitions: the share is
      // (n + 1)k / n ≥ k, so no doc is over it alone, but the partition that
      // holds two of them (2k) is
      val n = spark.sparkContext.defaultParallelism
      val ids = (1 to n + 1).map(i => Fixtures.docId(8 * i))
      val docs = ids.map(id => Doc(id, Seq(Span("pdf", "", s"mem://$id/0", 0))))
      val store = PagesStore(docs.map(d => d.spans.head.media_ref -> k).toMap)
      val conf = ExtractConf(numPartitions = 4, megaInlineCap = cap)
      val input = spark.createDataset(docs)
      val together = input.rdd.glom().collect().map(_.map(_.doc_id).toSet).filter(_.size > 1)
      assert(together.length == 1 && together.head.size == 2, s"premise: one partition holds two: ${together.toSeq}")
      val acc = new CollectionAccumulator[LineageRow]
      spark.sparkContext.register(acc, "clustered megas")
      val got = Extract.extractDS(spark, input, store, DeterministicOcr, conf, Some(acc))
        .collect().map(d => d.doc_id -> d).toMap
      val salted = acc.value.asScala.filter(r => r.path == "salted" && r.doc_count > 0)
      assert(salted.map(_.doc_count).sum == 2 &&
        salted.forall(r => together.head(r.doc_id_min) && together.head(r.doc_id_max)),
        s"exactly the two docs of the crowded partition must be salted: $salted")
      docs.foreach { d =>
        assert(got(d.doc_id) == ExtractKernel.extractWhole(d, store, DeterministicOcr, conf),
          s"${d.doc_id} differs from extractWhole")
      }
      spark.catalog.clearCache()
    }
  }

  test("extractWhole of a one-span 256-page pdf doc probes its page count once") {
    val id = Fixtures.docId(8)
    val ref = s"mem://$id/0"
    val pages = PagesStore(Map(ref -> 256))
    var calls = 0
    val counting = new MediaStore {
      override def pageCount(r: String): Int = { calls += 1; pages.pageCount(r) }
      override def page(r: String, p: Int): PageMedia = pages.page(r, p)
    }
    val doc = Doc(id, Seq(Span("pdf", "", ref, 0)))
    val conf = ExtractConf()
    assert(ExtractKernel.plan(doc, pages, conf).length == 256 / ExtractConf.PagesPerSplit,
      "premise: the doc is split into page ranges")
    val got = ExtractKernel.extractWhole(doc, counting, DeterministicOcr, conf)
    assert(calls == 1, s"$calls pageCount calls")
    assert(got.spans.nonEmpty && got == ExtractKernel.extractWhole(doc, pages, DeterministicOcr, conf))
  }
}
