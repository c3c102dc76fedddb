package graft

import graft.engine.SimilarityOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental index maintenance: merging a new-document batch into an
  * existing top-k table must equal a full rebuild, bit-for-bit. */
class MergeTopKSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  test("mergeTopK equals full rebuild on the real documents table") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val oldDocs = docs.filter(col("doc_id") < 400)
    val tfOld = SimilarityOps.termFreq(oldDocs, dropStopwords = true)
      .persist()
    val k = 10
    val existing = SimilarityOps.rankTopK(
      SimilarityOps.cosinePairs(tfOld, tfOld), k)
    val oldToks = tfOld.select("tok").distinct()
    val batches = Seq(
      "the rest of the table" -> docs.filter(col("doc_id") >= 400),
      // one doc: no new-new pairs
      "a single doc" -> docs.filter(col("doc_id") === 400),
      // no token shared with the old corpus: `withOld` is empty
      "docs sharing no old token" -> Seq((1000000L, "qzxv wqyk"),
        (1000001L, "qzxv jjvx"), (1000002L, "wqyk zzqy jjvx"))
        .toDF("doc_id", "text"))
    for ((name, newDocs) <- batches) {
      val tfNew = SimilarityOps.termFreq(newDocs, dropStopwords = true)
        .persist()
      if (name == "docs sharing no old token")
        assert(tfNew.join(oldToks, Seq("tok")).isEmpty, name)
      val tfAll = tfOld.unionByName(tfNew)
      val merged = TestSpark.topKBits(SimilarityOps.mergeTopK(existing, tfOld, tfNew, k))
      val rebuilt = TestSpark.topKBits(SimilarityOps.rankTopK(
        SimilarityOps.cosinePairs(tfAll, tfAll), k))
      assert(merged == rebuilt, name)
      assert(merged.exists(_._1 >= 400), s"$name: new docs get lists")
      tfNew.unpersist()
    }
    tfOld.unpersist()
  }

  test("merging an empty batch is a no-op") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") < 50)
    val tf = SimilarityOps.termFreq(docs, dropStopwords = true).persist()
    val tfEmpty = tf.filter(col("doc_id") < 0)
    val existing = SimilarityOps.rankTopK(SimilarityOps.cosinePairs(tf, tf), 5)
    val merged = SimilarityOps.mergeTopK(existing, tf, tfEmpty, 5)
      .collect().map(_.toSeq).toSet
    assert(merged == existing.collect().map(_.toSeq).toSet)
    tf.unpersist()
  }
}
