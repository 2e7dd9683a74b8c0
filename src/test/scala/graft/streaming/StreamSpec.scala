package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class StreamSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("streaming dedup: first doc per fingerprint wins, across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.dedupStream(in.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_stream").start()
    try {
      // batch 1: 1 and 2 are dups (same normalized text — whitespace/case),
      // smaller id wins; 3 is distinct
      in.addData((2L, "Hello   World"), (1L, "hello world"), (3L, "other text"))
      q.processAllAvailable()
      // batch 2: 4 duplicates batch 1's fingerprint → dropped by state;
      // 5 is new
      in.addData((4L, "HELLO WORLD"), (5L, "fresh content"))
      q.processAllAvailable()
      val kept = spark.table("dedup_stream")
        .collect().map(r => r.getLong(0)).toSet
      assert(kept == Set(1L, 3L, 5L), s"got $kept")
    } finally q.stop()
  }

  test("streaming near-dup: band-digest state finds cross-batch near duplicates") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = ("the quick brown fox jumps over the lazy dog while morning " +
      "light crosses the quiet valley and birds begin their long careful " +
      "song about rivers mountains forests meadows and the slow turning " +
      "of the bright summer season")
    val nearCopy = base.replace("careful", "gentle") // 1 of ~40 words
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.nearDupStream(in.toDS()).toDF("doc_id", "base")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("near_stream").start()
    try {
      in.addData((10L, base), (11L, "a completely unrelated document about " +
        "industrial chemistry processes and the catalytic reduction of " +
        "nitrogen compounds under high pressure in continuous reactors"))
      q.processAllAvailable()
      // batch 2: exact copy (all bands collide — guaranteed), a near copy
      // (deterministic for these fixed strings), and a fresh doc
      in.addData((20L, base), (21L, nearCopy), (22L, "tiny"))
      q.processAllAvailable()
      val dupOf = spark.table("near_stream")
        .groupBy(col("doc_id")).agg(min(col("base")).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dupOf.get(20L).contains(10L), s"exact copy must hit state: $dupOf")
      assert(dupOf.get(21L).contains(10L), s"near copy must hit state: $dupOf")
      assert(!dupOf.contains(10L) && !dupOf.contains(11L) && !dupOf.contains(22L),
        s"firsts and sub-shingle docs must not emit: $dupOf")
    } finally q.stop()
  }

  test("TTL near-dup: band state expires with the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val base = "the quick brown fox jumps over the lazy dog near the still river tonight"
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamOps.nearDupStreamTtl(in.toDS(), ttlMs = 10 * 60 * 1000L)
      .toDF("doc_id", "base")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ttl_near").start()
    try {
      in.addData((1L, base, t(0)))
      q.processAllAvailable()
      in.addData((2L, base, t(5)))    // inside window → collides with 1
      q.processAllAvailable()
      in.addData((3L, "unrelated filler words about glacier maps and tidal charts for navigation", t(30)))
      q.processAllAvailable()
      in.addData((4L, "second filler batch to run the timeout pass", t(35)))
      q.processAllAvailable()
      in.addData((5L, base, t(40)))   // state expired → no collision emitted
      q.processAllAvailable()
      val hits = spark.table("ttl_near")
        .groupBy(col("doc_id")).agg(min(col("base")).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hits.get(2L).contains(1L), s"in-window near-dup must collide: $hits")
      assert(!hits.contains(5L), s"post-expiry doc must read as new: $hits")
    } finally q.stop()
  }

  test("TTL dedup: expiry is event-time, independent of micro-batch boundaries") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val base = "the quick brown fox jumps over the lazy dog near the still river tonight"
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamOps.nearDupStreamTtl(in.toDS(), ttlMs = 10 * 60 * 1000L)
      .toDF("doc_id", "base")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ttl_near_batching").start()
    try {
      in.addData((1L, base, t(0)))
      q.processAllAvailable()
      // ONE batch holding an in-window copy (10:05) AND a past-ttl copy
      // (10:40): the watermark (10:00) has not reached the state's
      // timeout, so only the 10:40 row's own event time can expire it
      in.addData((2L, base, t(5)), (3L, base, t(40)))
      q.processAllAvailable()
      val hits = spark.table("ttl_near_batching")
        .groupBy(col("doc_id")).agg(min(col("base")).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hits == Map(2L -> 1L), s"got $hits")
    } finally q.stop()
  }
}
