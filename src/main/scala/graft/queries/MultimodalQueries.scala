package graft.queries

import graft.engine.{Q, Tables}
import graft.multimodal.BinaryOps
import org.apache.spark.sql.functions._

/** Multimodal-column suite: binary payloads (documents' text bytes
  * standing in for media payloads — the test tables carry no real
  * media) with metadata extraction. q34 is pure column ops
  * (oracle-checkable); q35 drives the typed mapPartitions decode path
  * (no SQL equivalent → rows-only check + BinaryOpsSpec). */
object MultimodalQueries {

  /** Binary metadata columns: byte length, content hash, stub-derived
    * dimensions — all computable by both engines on the same bytes. */
  val q34 = Q("q34_multimodal_meta",
    """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
      |md5(text) AS fp,
      |CAST(octet_length(CAST(text AS BLOB)) % 64 AS BIGINT) AS fake_width,
      |CAST(octet_length(CAST(text AS BLOB)) // 64 AS BIGINT) AS fake_height
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val len = octet_length(col("text").cast("binary")).cast("long")
    Tables(s, dir, "documents").select(
      col("doc_id"), len.as("byte_len"),
      md5(col("text").cast("binary")).as("fp"),
      (len % 64).as("fake_width"),
      floor(len / 64).cast("long").as("fake_height"))
      .orderBy("doc_id")
  }

  /** Typed per-partition decode of binary payloads (stubbed decoder,
    * real Spark plumbing — see graft.multimodal.BinaryOps). */
  val q35 = Q.noOracle("q35_multimodal_decode") { (s, dir) =>
    // no spread: the stub decode is cheap per row; a real (expensive)
    // decoder would repartition the media first (see BinaryOps)
    val media = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    BinaryOps.decodeAll(s, media).toDF().orderBy("doc_id")
  }

  def all: Seq[Q] = Seq(q34, q35)
}
