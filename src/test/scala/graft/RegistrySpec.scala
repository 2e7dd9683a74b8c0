package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the contract-query registry: the query names, every oracle's SQL
  * text and the rows-only set must stay exactly what they were before the
  * registry became one `Seq[QuerySpec]` (digests computed on the two-map
  * form), and every rows-only query must name a value-exact twin. */
class RegistrySpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private def linesDigest(m: Map[String, String]): String =
    sha256(m.toSeq.sorted.map { case (k, v) => s"$k\t$v" }.mkString("\n"))

  private val RowsOnlyNames = Set("dd_simhash", "dd_minhash_fast", "dd_jaccard_fast",
    "dd_decontam_fast", "mm_decode_full", "q_distinct_users_approx")

  test("registry: query names are unique and match the pinned set") {
    val names = Queries.registry.map(_.name)
    assert(names.distinct.size == names.size, names.diff(names.distinct))
    assert(names.size == 66)
    assert(Queries.all.keySet == names.toSet)
    assert(sha256(Queries.all.keys.toSeq.sorted.mkString("\n")) ==
      "6d0db678290763d62fce5ca136f90f22b01904ec2411a9981ad4d6549fe096f3")
  }

  test("registry: static oracle SQL matches the pinned text") {
    assert(Queries.oracle.size == 57)
    assert(SparkEntry.oracleSql == Queries.oracle)
    assert(linesDigest(Queries.oracle) == "2501dd844035c79e7307ec2a2f00bef770ebc1ac2af62d28561fbee162acef52")
  }

  test("registry: data-dependent oracle SQL matches the pinned text") {
    val dyn = Queries.oracleDynamic(spark, sf)
    assert(dyn.keySet == Set("ann_ivf", "ann_ivf_indexed", "q_jsonl_source"))
    // the JSONL source path carries a fingerprint of the documents files
    // (names, lengths, mtimes), so it is checked against its formula here
    // and masked in the digest
    val src = new java.io.File(s"$sf/documents.parquet")
    val files = if (src.isDirectory) src.listFiles().toSeq.sortBy(_.getName) else Seq(src)
    val fp = graft.core.Hash64(
      sf + "|" + files.map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString(","))
    val jsonl = f"/tmp/graft_index/docs_${sf.replaceAll("[^A-Za-z0-9.]", "_")}_$fp%016x/jsonl"
    assert(dyn("q_jsonl_source").contains(s"read_json('$jsonl/*.json'"))
    val masked = dyn.map { case (k, v) => k -> v.replace(jsonl, "<jsonl>") }
    assert(linesDigest(masked) == "e2e69f618a2f66c6a4e326f39a360797be3cadaf0c4d6e4d35a8a2a8b244034f")
  }

  test("registry: every query's output schema matches the pinned names, types and nullability") {
    // treeString prints each field's name, type and nullable flag, and the
    // containsNull / valueContainsNull of nested arrays and maps; the digest
    // is of the schemas the hand-written native expressions produced
    val schemas = Queries.registry.map(q => q.name -> q.build(spark, sf).schema.treeString).toMap
    assert(linesDigest(schemas) == "253f39621baef874e3c584dec85eb7fdfa551362edc8576037efae75bb274988")
  }

  test("registry: the rows-only set is exactly the six hash- and sketch-based queries") {
    val withOracle = Queries.oracle.keySet ++ Queries.oracleDynamic(spark, sf).keySet
    assert(Queries.all.keySet -- withOracle == RowsOnlyNames)
    assert(withOracle.subsetOf(Queries.all.keySet))
  }

  test("registry: every rows-only query names a twin with a value-exact oracle") {
    val byName = Queries.registry.map(q => q.name -> q.oracle).toMap
    val twins = Queries.registry.collect {
      case Queries.QuerySpec(name, _, Queries.RowsOnly(twin)) => name -> twin
    }
    assert(twins.map(_._1).toSet == RowsOnlyNames)
    twins.foreach { case (name, twin) =>
      assert(byName.get(twin).exists {
        case _: Queries.Sql | _: Queries.DataSql => true
        case _ => false
      }, s"$name names $twin, which has no value-exact oracle")
    }
  }

  test("streaming queries run on their own session: the caller's conf and catalog stay clean") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try {
      val runs = (1 to 2).map(_ => Queries.all("dd_stream_near")(spark, sf).collect().toSeq)
      assert(runs(0).nonEmpty && runs(0) == runs(1))
      assert(spark.conf.get(key) == "7")
      val sinks = spark.catalog.listTables().collect().map(_.name).filter(_.contains("_sink_"))
      assert(sinks.isEmpty, sinks.mkString(", "))
    } finally spark.conf.set(key, prev)
  }
}
