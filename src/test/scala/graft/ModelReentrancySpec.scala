package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

/** Regression: training one artifact may request another mid-train
  * (pqResIndex's trainer reads pqResBooks, whose trainer reads
  * coarseCentroids). SparkEntry's in-JVM memo must therefore be
  * reentrant — the original
  * computeIfAbsent memo threw "IllegalStateException: Recursive update"
  * the first time a FRESH corpus resolved the nested chain, because on
  * the gate corpora an earlier query in the run order always trained the
  * inner artifact first and masked the nesting. This spec reproduces the
  * unmasked case: a corpus directory the store has never fingerprinted,
  * hit first by the outermost trained-artifact query.
  */
class ModelReentrancySpec extends AnyFunSuite with SparkSuite {

  test("nested trained artifacts resolve on a never-seen corpus (no recursive-update)") {
    val dir = Files.createTempDirectory("graft_fresh_corpus")
    try {
      // Same bytes as sf0.001 but a different path+mtime → different
      // store fingerprint, so every artifact in the chain must train.
      for (tbl <- Seq("embeddings", "documents")) {
        val src = Paths.get(s"/root/testdata/sf0.001/$tbl.parquet")
        Files.copy(src, dir.resolve(s"$tbl.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      // knn_ivf_pq_residual is the outermost link:
      // index ← (books ← centroids, centroids).
      val out = SparkEntry.queries("knn_ivf_pq_residual")(spark, dir.toString)
      assert(out.count() > 0)
    } finally {
      dir.toFile.listFiles().foreach(_.delete())
      Files.deleteIfExists(dir)
    }
  }
}
