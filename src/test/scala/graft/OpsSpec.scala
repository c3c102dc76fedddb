package graft

import graft.ann.EmbeddingOps
import graft.dedup.DedupOps
import graft.engine.{SimilarityOps, Tables}
import graft.functions.{MinHashExprs, StemText, VecExprs}
import graft.multimodal.BinaryOps
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Operator-level specs on tiny crafted corpora (the oracle gate
  * covers full-table exactness; these pin the semantics). */
class OpsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** `conv(substr(md5(s), 1, 15), 16, 10)` in plain Scala. */
  private def sk(shingle: String): Long = java.lang.Long.parseLong(
    java.security.MessageDigest.getInstance("MD5")
      .digest(shingle.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)

  test("shingles: word 3-grams, distinct, none for short docs") {
    // NB tokens are 2+ chars (sklearn \w\w+ pattern) — 1-char words drop
    val keys = docs(1L -> "aa bb cc dd", 2L -> "xx yy", 3L -> "pp pp pp pp pp")
      .select(col("doc_id"), MinHashExprs.shingle_keys(col("text")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(keys == Map(1L -> Seq("aa bb cc", "bb cc dd").map(sk).sorted,
      2L -> Seq(), 3L -> Seq(sk("pp pp pp"))))
  }

  test("identical docs share identical minhash signatures") {
    // q21's signing path: the native minhash_sigs column
    val sigs = docs(
      1L -> "the quick brown fox jumps over", 2L -> "the quick brown fox jumps over")
      .select(col("doc_id"), MinHashExprs.minhash_sigs(col("text")))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L).size == DedupOps.NumHashes)
    assert(sigs(1L).distinct.size == DedupOps.NumHashes) // one min per seed
  }

  test("jaccard is exact on crafted overlap") {
    // q22's verification over the shingle_keys column
    val keyed = docs(
      1L -> "aa bb cc dd ee", // shingles: aa-bb-cc bb-cc-dd cc-dd-ee
      2L -> "bb cc dd ee ff") // shingles: bb-cc-dd cc-dd-ee dd-ee-ff
      .select(col("doc_id"), MinHashExprs.shingle_keys(col("text")).as("keys"))
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("i", "j")
    val j = DedupOps.verifyPairs(pairs, keyed).collect().head
    assert(j.getLong(2) == 2L) // inter
    assert(j.getLong(3) == 3L && j.getLong(4) == 3L) // na, nb
    assert(j.getDouble(5) == 2.0 / 4.0)
  }

  test("simhashBits rejects a (doc_id, tok, tf) relation") {
    val tf = SimilarityOps.termFreq(docs(1L -> "aa bb aa"), dropStopwords = false)
    val e = intercept[IllegalArgumentException](DedupOps.simhashBits(tf))
    assert(e.getMessage.contains("exactly the columns (doc_id, tok)"))
  }

  test("simhashBits rejects an occurrence relation with an extra column") {
    val occ = docs(1L -> "aa bb aa").select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val e = intercept[IllegalArgumentException](DedupOps.simhashBits(occ))
    assert(e.getMessage.contains("exactly the columns (doc_id, tok)"))
  }

  test("cosine: identical docs rank each other first with cos 1.0") {
    val tf = SimilarityOps.termFreq(docs(
      1L -> "alpha beta beta gamma", 2L -> "alpha beta beta gamma",
      3L -> "delta epsilon zeta"), dropStopwords = false)
    val top = SimilarityOps.rankTopKRounded(
      SimilarityOps.cosinePairs(tf.filter(col("doc_id") < 10), tf), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(top.contains((1L, 2L, 1.0)))
    assert(top.contains((2L, 1L, 1.0)))
    // disjoint vocab -> no pair with doc 3
    assert(!top.exists(t => t._1 == 3L || t._2 == 3L))
  }

  test("embedding quantization + rankPairs finds the planted neighbor") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array.tabulate(64)(i => math.sin(i + 1).toFloat)),
      (1L, Array.tabulate(64)(i => (math.sin(i + 1) * 1.001f).toFloat)), // near-dup of 0
      (2L, Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat)))
      .toDF("vec_id", "embedding")
    val vecs = EmbeddingOps.quantizedVec(emb)
    val cand = Seq((0L, 1L), (0L, 2L)).toDF("i", "j")
    val ranked = SimilarityOps.rankTopKRounded(EmbeddingOps.simsVec(vecs, cand), 2)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(ranked.head._1 == 1L && ranked.head._2 == 1L)
    assert(ranked.find(_._1 == 1L).get._3 > 0.999)
  }

  test("planeWeight is deterministic and in [-8, 7]") {
    val ws = for (p <- 0 until 16; d <- 0 until 64)
      yield EmbeddingOps.planeWeight(p, d)
    assert(ws.forall(w => w >= -8 && w <= 7))
    assert(EmbeddingOps.planeWeight(3, 7) == EmbeddingOps.planeWeight(3, 7))
  }

  test("dot_q native expression matches the HOF fold exactly") {
    import spark.implicits._
    val df = Seq(
      (Array(1L, 2L, 3L), Array(4L, 5L, 6L)),          // 4+10+18 = 32
      (Array(-7L, 0L, 9L), Array(3L, 100L, -2L)),      // -21+0-18 = -39
      (Array.empty[Long], Array.empty[Long]))          // empty fold = 0
      .toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0L), (acc, v) => acc + v)
    val rows = df.select(
      graft.functions.VecExprs.dot_q(col("a"), col("b")).as("native"),
      hof.as("hof")).collect()
    rows.foreach(r => assert(r.get(0) == r.get(1)))
    // length mismatch: zip_with pads with null -> null, like the HOF
    val mism = Seq((Array(1L, 2L), Array(3L))).toDF("a", "b")
    val m = mism.select(
      graft.functions.VecExprs.dot_q(col("a"), col("b")).as("native"),
      hof.as("hof")).collect().head
    assert(m.isNullAt(0) && m.isNullAt(1))
  }

  test("quantize_vec matches transform(round(cast)) elementwise") {
    import spark.implicits._
    val vals = Seq(
      Array(0.1f, -0.37f, 1.0f, -1.0f, 0.0000025f, -0.0000025f, 0.9999995f),
      Array.tabulate(64)(i => math.sin(i * 0.7 - 3).toFloat),
      Array.empty[Float]).toDF("embedding")
    val old = transform(col("embedding"),
      x => round(x.cast("double") * EmbeddingOps.QuantScale).cast("long"))
    val rows = vals.select(
      graft.functions.VecExprs.quantize_vec(
        col("embedding"), EmbeddingOps.QuantScale).as("native"),
      old.as("hof")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
    // non-finite values fail loudly in BOTH forms: under ANSI mode
    // (the Spark 4 default these sessions run) the old chain's long
    // cast throws CAST_OVERFLOW; the native expression throws too
    val nan = Seq(Array(Float.NaN)).toDF("embedding")
    intercept[Exception] {
      nan.select(old.as("hof")).collect()
    }
    intercept[Exception] {
      nan.select(graft.functions.VecExprs.quantize_vec(
        col("embedding"), EmbeddingOps.QuantScale).as("native")).collect()
    }
  }

  test("bucket_strs matches the long-form buckets pipeline (ppt 4 and 8)") {
    import spark.implicits._
    val emb = Seq.tabulate(40)(v =>
      (v.toLong, Array.tabulate(64)(i => math.sin(v * 17 + i * 0.9).toFloat)))
      .toDF("vec_id", "embedding")
    val vecs = EmbeddingOps.quantizedVec(emb)
    val qvs = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    for (ppt <- Seq(4, 8)) {
      val native = EmbeddingOps.bucketsVec(vecs, ppt).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      // the long-form pipeline (bucketsSql) in plain Scala: per plane
      // the exact integer projection, '1' iff >= 0, concatenated per
      // table of `ppt` planes
      val wt = Array.tabulate(4 * ppt, EmbeddingOps.Dims)(EmbeddingOps.planeWeight)
      val longForm = (for ((id, qv) <- qvs; t <- 0 until 4) yield {
        val bits = (t * ppt until (t + 1) * ppt).map { p =>
          if (qv.indices.map(d => wt(p)(d) * qv(d)).sum >= 0) '1' else '0'
        }
        (id, t.toLong, bits.mkString)
      }).toSet
      assert(native == longForm, s"ppt=$ppt")
      assert(native.size == 40 * 4)
    }
  }

  test("dot_q runs inside a WholeStageCodegen span") {
    import spark.implicits._
    // the r21 HOF fold was CodegenFallback — the sims projection ran
    // interpreted; the native expression must keep the stage codegen'd
    val vecs = EmbeddingOps.quantizedVec(
      Seq.tabulate(20)(v =>
        (v.toLong, Array.tabulate(64)(i => math.sin(v + i * 0.3).toFloat)))
        .toDF("vec_id", "embedding"))
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("i", "j")
    val df = EmbeddingOps.simsVec(vecs, pairs)
    df.collect() // drive THIS Dataset's QueryExecution so AQE finalizes
    // the AQE final plan marks whole-stage-codegen'd operators "*(n)";
    // the projection calling VecExprs.dotBoxed must carry the marker
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), s"plan not finalized:\n$plan")
    val projLines = plan.linesIterator
      .filter(l => l.contains("Project") && l.contains("VecExprs.dotBoxed(")).toSeq
    assert(projLines.nonEmpty, s"no dot_q projection in plan:\n$plan")
    assert(projLines.exists(_.contains("*(")),
      s"dot_q projection not codegen'd:\n${projLines.mkString("\n")}")
  }

  /** Runs `f` in a fresh session on the shared context: default
    * codegen, or (`interpreted`) no whole-stage codegen and no
    * generated expression code, so every kernel call goes through
    * `StaticInvoke`'s reflective `eval`. */
  private def onPath[T](interpreted: Boolean)(f: SparkSession => T): T = {
    val s = spark.newSession()
    if (interpreted) {
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    }
    f(s)
  }

  // an RDD-backed relation, not a local one: the optimizer would
  // evaluate kernels over a LocalRelation itself, on neither path
  private def rowsDf(s: SparkSession, rows: Seq[Row], schema: StructType) =
    s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)

  private val kernelInput = StructType(Seq(
    StructField("id", IntegerType), StructField("text", StringType),
    StructField("a", ArrayType(LongType)), StructField("b", ArrayType(LongType)),
    StructField("emb", ArrayType(FloatType)), StructField("qv", ArrayType(LongType))))

  private val kernels: Seq[(String, Column)] = Seq(
    "graft_stem" -> StemText.graft_stem(col("text")),
    "minhash_sigs" -> MinHashExprs.minhash_sigs(col("text")),
    "band_sigs" -> MinHashExprs.band_sigs(col("text")),
    "shingle_keys" -> MinHashExprs.shingle_keys(col("text")),
    "quantize_vec" -> VecExprs.quantize_vec(col("emb"), EmbeddingOps.QuantScale),
    "dot_q" -> VecExprs.dot_q(col("a"), col("b")),
    "bucket_strs" -> VecExprs.bucket_strs(col("qv"), 4))

  test("kernel columns agree between codegen and interpreted evaluation") {
    val vec = Seq.tabulate(64)(i => (i * 37 % 19 - 9).toLong)
    val cases = Seq(
      "null" -> Row(0, null, null, null, null, null),
      "empty" -> Row(1, "", Seq(), Seq(), Seq(), Seq()),
      "length mismatch" -> Row(2, "aa bb", Seq(1L, 2L), Seq(3L),
        Seq(0.5f), Seq(1L, -2L)),
      "null elements" -> Row(3, "aa bb cc", Seq(1L, null), Seq(1L, 2L),
        Seq(0.1f, null), Seq(null, 3L)),
      "normal" -> Row(4, "the quick brown foxes jumped over lazy dogs",
        vec, vec.reverse, Seq.tabulate(64)(i => math.sin(i * 0.7 - 3).toFloat),
        vec))
    val results = Seq(false, true).map { interpreted =>
      onPath(interpreted) { s =>
        val df = rowsDf(s, cases.map(_._2), kernelInput)
          .select(col("id") +: kernels.map { case (n, k) => k.as(n) }: _*)
        // the two paths really differ: only codegen marks the projection
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("*(") != interpreted, plan)
        df.collect().map(r => r.getInt(0) -> r.toSeq.tail).toMap
      }
    }
    for (((label, _), id) <- cases.zipWithIndex;
         ((name, _), k) <- kernels.zipWithIndex)
      assert(results(0)(id)(k) == results(1)(id)(k), s"$name on $label input")
    // the cases reach the kernels' null and empty branches
    val dotQ = kernels.indexWhere(_._1 == "dot_q")
    val buckets = kernels.indexWhere(_._1 == "bucket_strs")
    assert(results(0)(0).forall(_ == null))
    assert(results(0)(2)(dotQ) == null && results(0)(3)(dotQ) == null)
    assert(results(0)(1)(dotQ) == 0L && results(0)(1)(buckets) == null)
    assert(results(0)(4).forall(_ != null))
  }

  test("kernel errors are the same on the codegen and interpreted paths") {
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || (t.getCause eq t)) t else rootCause(t.getCause)
    val cases = Seq(
      "quantize_vec of NaN" -> (Row(0, null, null, null, Seq(Float.NaN), null),
        VecExprs.quantize_vec(col("emb"), EmbeddingOps.QuantScale)),
      "dot_q overflow" -> (Row(0, null, Seq(Long.MaxValue, 2L), Seq(2L, 1L), null, null),
        VecExprs.dot_q(col("a"), col("b"))))
    for ((label, (row, kernel)) <- cases) {
      val errors = Seq(false, true).map { interpreted =>
        onPath(interpreted) { s =>
          rootCause(intercept[Exception](
            rowsDf(s, Seq(row), kernelInput).select(kernel).collect()))
        }
      }
      assert(errors.forall(_.isInstanceOf[ArithmeticException]), s"$label: $errors")
      assert(errors(0).getMessage == errors(1).getMessage, label)
    }
  }

  test("shingle_keys equals the distinct md5-prefix keys of Spark's trigrams") {
    import spark.implicits._
    val texts = Seq(null, "", "aa bb", "aa bb cc aa bb cc aa bb cc", "x" * 200,
      "the quick brown fox", "İstanbul ÖZEL straße ΟΔΟΣ ok ab cd",
      "ＡＢＣ ｄｅｆ ｇｈｉ ab cd ef", "ünïcode ok fine words")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val native = df.select(col("doc_id"), MinHashExprs.shingle_keys(col("text")))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    val reference = ReferenceShingles.trigrams(df)
      .select(col("doc_id"), ReferenceShingles.key(col("shingle")).as("sk"))
      .distinct().collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    assert(native(0L).isEmpty) // a null text gives a null array
    for ((id, keys) <- native - 0L) {
      val ks = keys.get
      assert(ks.distinct.size == ks.size, s"doc $id has a repeated key")
      assert(ks.toSet == reference.getOrElse(id, Set.empty), s"doc $id")
      assert(ks.forall(_ >= 0L))
    }
    // the cases reach both branches: some docs shingle, some do not
    assert(reference.keySet == Set(3L, 5L, 6L, 7L, 8L))
  }

  test("Tables.spread spreads a single row group that plans many splits") {
    // one parquet row group can plan several splits, all but one empty;
    // the spread must still move its rows onto more than one partition
    val dir = java.nio.file.Files.createTempDirectory("graft_spread").toString
    spark.range(0, 20000).selectExpr("id", "cast(id * 7 as string) AS s")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val keys = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val target = spark.sparkContext.defaultParallelism
    try {
      val bytes = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      spark.conf.set(keys(0), math.max(1L, bytes / (2L * target)).toString)
      spark.conf.set(keys(1), "1")
      val df = spark.read.parquet(dir)
      assert(df.rdd.getNumPartitions >= target, "precondition: many splits")
      val rowsPerPartition = Tables.spread(df)
        .groupBy(spark_partition_id()).count().collect()
      assert(rowsPerPartition.length >= 2)
      assert(rowsPerPartition.map(_.getLong(1)).sum == 20000L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("decodeStub is deterministic; decodeAll keeps every row") {
    val media = docs(1L -> "hello", 2L -> "a longer payload here", 3L -> "")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val out = BinaryOps.decodeAll(spark, media)
      .collect().map(m => m.doc_id -> m).toMap
    assert(out.size == 3)
    assert(out(1L).byte_len == 5L)
    assert(out(3L).format == "empty")
    assert(out(1L).checksum ==
      BinaryOps.decodeStub(1L, "hello".getBytes("UTF-8")).checksum)
  }
}
