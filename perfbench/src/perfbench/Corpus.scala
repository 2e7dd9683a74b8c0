package perfbench

import graft.pipeline.Fixtures
import org.apache.spark.sql.SparkSession

import java.util.SplittableRandom
import scala.collection.mutable

/** One extraction workload: `docs` fixture documents at OCR level `level`,
  * drawn as `docs / megaDiv` 256-page megas, `docs / midDiv` 32-page pdfs
  * (0 = none) and the rest split evenly over the fixture `classes`
  * (idx % 8). */
final case class Workload(name: String, level: String, docs: Int, megaDiv: Int, midDiv: Int,
    classes: Seq[Int]) {

  /** `docs` distinct fixture indices below 10^8, in exact strata so that
    * every seed does the same amount of each kind of work and only the
    * documents differ. */
  def draw(rng: SplittableRandom): Array[Int] = {
    import Workload._
    val taken = mutable.LinkedHashSet.empty[Int]
    val megas = if (megaDiv > 0) docs / megaDiv else 0
    val mids = if (midDiv > 0) docs / midDiv else 0
    stratum(rng, taken, megas, 1000, 0)(isMega)
    stratum(rng, taken, mids, 101, 100)(isMid)
    val rest = docs - megas - mids
    classes.zipWithIndex.foreach { case (c, i) =>
      val k = rest / classes.length + (if (i < rest % classes.length) 1 else 0)
      stratum(rng, taken, k, 8, c)(j => !isMega(j) && !isMid(j))
    }
    taken.toArray.sorted
  }
}

object Workload {
  private val MaxIdx = 100000000 // Fixtures.docId keeps 8 digits below 10^8

  def isMega(i: Int): Boolean = i >= 1000 && i % 1000 == 0
  private def isMid(i: Int) = !isMega(i) && i % 101 == 100

  /** Adds `n` distinct indices of the form `step * k + rem` that pass `ok`. */
  private def stratum(rng: SplittableRandom, taken: mutable.LinkedHashSet[Int],
      n: Int, step: Int, rem: Int)(ok: Int => Boolean): Unit = {
    val target = taken.size + n
    while (taken.size < target) {
      val idx = step * rng.nextInt(1, (MaxIdx - rem) / step) + rem
      if (ok(idx)) taken += idx
    }
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(
    Workload("extract_mixed", "medium", 40000, 1000, 101, 0 until 8),
    // text-plain, text-dirty, html, lang-mix: no media at all
    Workload("extract_text_html", "medium", 80000, 0, 0, Seq(0, 1, 2, 6)),
    // pdf, image, consensus-noisy; a non-mega doc averages 2 pages, so
    // docs/100 megas of 256 pages carry about half of all pages
    Workload("extract_scanned_ultra", "ultra", 10000, 100, 101, Seq(3, 4, 7)))

  def byName(name: String): Option[Workload] = all.find(_.name == name)
}

/** Materialized corpora, cached under `dir` by (workload, seed, doc count,
  * file count) and verified by row count before use: a stale corpus of
  * another size would silently corrupt docs/s. */
object Corpus {

  final case class Materialized(path: String, docIds: Array[Int], cacheHit: Boolean)

  def ensure(spark: SparkSession, w: Workload, seed: Long, files: Int, dir: String): Materialized = {
    import spark.implicits._
    // decorrelate workloads that share a seed
    val idx = w.draw(new SplittableRandom(seed * 1000003L + w.name.hashCode))
    require(idx.length == w.docs, s"${w.name}: drew ${idx.length} docs, want ${w.docs}")
    val path = s"$dir/${w.name}-seed$seed-n${w.docs}-f$files"
    val complete = new java.io.File(s"$path/_SUCCESS").exists &&
      spark.read.parquet(path).count() == w.docs
    if (!complete) {
      Files.delete(path)
      spark.sparkContext.parallelize(idx.toSeq, files).map(i => Fixtures.doc(i)).toDS()
        .write.parquet(path)
      val n = spark.read.parquet(path).count()
      require(n == w.docs, s"${w.name}: corpus at $path has $n rows, want ${w.docs}")
    }
    Materialized(path, idx, cacheHit = complete)
  }
}

object Files {
  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
  }
}
