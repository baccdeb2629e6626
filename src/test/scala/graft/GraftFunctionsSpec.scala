package graft

import org.apache.spark.sql.functions._

/** The SQL function surface must agree with the DataFrame-API expressions. */
class GraftFunctionsSpec extends SparkSpec {

  test("graft_dot via spark.sql equals VectorFunctions.dot") {
    GraftFunctions.register(spark)
    val sqlRes = Tables.sql(spark, sf,
      """SELECT vec_id, graft_dot(embedding, embedding) AS d
        |FROM embeddings ORDER BY vec_id LIMIT 20""".stripMargin).collect()
    val dfRes = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.dot(col("embedding"), col("embedding")).as("d"))
      .orderBy("vec_id").limit(20).collect()
    assert(sqlRes.toSeq == dfRes.toSeq)
  }

  test("WordNgrams equals the declarative shingle formulation, both fallbacks") {
    val docs = Tables.table(spark, sf, "documents")
      .withColumn("toks", expr(operators.TextAnalysis.tokensExpr))
    // Near-dup convention (short docs → distinct tokens) vs Dedup.shinglesExpr.
    val fused = docs.select(col("doc_id"),
      graft.functions.TextShingles.wordNgrams(col("toks"), 3).as("sh"))
      .orderBy("doc_id").collect()
    val declarative = docs.select(col("doc_id"),
      expr(operators.Dedup.shinglesExpr).as("sh")).orderBy("doc_id").collect()
    assert(fused.toSeq == declarative.toSeq)
    // Strict convention (short docs → empty) including the boundary sizes.
    import spark.implicits._
    val edge = Seq(Seq.empty[String], Seq("a"), Seq("a", "b", "c", "d"),
      Seq("a", "b", "c", "d", "e"), Seq("a", "b", "c", "d", "e", "f"))
      .toDF("toks")
    val strict = edge.select(
      graft.functions.TextShingles.wordNgramsStrict(col("toks"), 5).as("sh"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(strict == List(Nil, Nil, Nil,
      List("a b c d e"), List("a b c d e", "b c d e f")))
  }

  test("Md5HashArray equals the declarative md5/conv formulation") {
    val docs = Tables.table(spark, sf, "documents")
      .withColumn("toks", expr(operators.TextAnalysis.tokensExpr))
    val fused = docs.select(col("doc_id"),
      graft.functions.TextShingles.md5Hash60Array(col("toks")).as("h"),
      graft.functions.TextShingles.md5Hash31Array(col("toks")).as("h31"))
      .orderBy("doc_id").collect()
    val declarative = docs.select(col("doc_id"),
      expr(operators.Dedup.hashedTokensExpr).as("h"),
      expr(s"transform(toks, t -> ${operators.Dedup.baseHash31("t")})").as("h31"))
      .orderBy("doc_id").collect()
    assert(fused.toSeq == declarative.toSeq)
  }

  test("HyperplaneBandKeys: codegen equals interpreted equals per-plane reference") {
    import graft.functions.Hyperplanes
    val nBands = 8
    val bandBits = 4
    val emb = Tables.table(spark, sf, "embeddings").limit(50)
    // Codegen path (whole-stage codegen over the parquet scan).
    val fused = emb.select(col("vec_id"),
      Hyperplanes.bandKeys(col("embedding"), nBands, bandBits).as("keys"))
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    // Per-plane reference from the same plane family, computed in plain
    // Scala: bit j of band c = sign of plane c*bandBits+j.
    val planes = Hyperplanes.planesFor(nBands * bandBits)
    val ref = emb.select(col("vec_id"), col("embedding")).orderBy("vec_id")
      .collect().map { r =>
        val v = r.getSeq[Float](1).toArray
        val keys = (0 until nBands).map { c =>
          (0 until bandBits).foldLeft(0L) { (k, j) =>
            val p = planes(c * bandBits + j)
            var s = 0.0
            var i = 0
            while (i < v.length) { s += v(i).toDouble * p(i); i += 1 }
            if (s >= 0) k | (1L << j) else k
          }
        }.toList
        r.getLong(0) -> keys
      }.toMap
    assert(fused == ref)
    // Interpreted path (eval) must agree with codegen, including on null
    // elements (both treat them as 0).
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    val e = graft.functions.HyperplaneBandKeys(
      BoundReference(0, ArrayType(DoubleType, containsNull = true), nullable = false),
      nBands, bandBits)
    val withNull: Array[Any] = Array.tabulate(64)(i => if (i == 3) null else (i - 30).toDouble / 7.0)
    val row = org.apache.spark.sql.catalyst.InternalRow(new GenericArrayData(withNull))
    val interp = e.eval(row).asInstanceOf[GenericArrayData].toLongArray().toList
    val zeroed: Array[Any] = withNull.map(x => if (x == null) 0.0 else x)
    val rowZ = org.apache.spark.sql.catalyst.InternalRow(new GenericArrayData(zeroed))
    val interpZ = e.eval(rowZ).asInstanceOf[GenericArrayData].toLongArray().toList
    assert(interp == interpZ, "null element must contribute 0, as in codegen")
    // Construction-time bounds (ADVICE: bandBits > 64 would alias shifts).
    intercept[IllegalArgumentException] {
      graft.functions.HyperplaneBandKeys(Literal(null, ArrayType(FloatType)), 4, 65)
    }
    intercept[IllegalArgumentException] {
      graft.functions.HyperplaneBandKeys(Literal(null, ArrayType(FloatType)), 0, 4)
    }
  }

  test("graft_simhash64 and graft_minhash64 run from SQL") {
    GraftFunctions.register(spark)
    val r = Tables.sql(spark, sf,
      s"""SELECT doc_id,
         |  graft_simhash64(transform(filter(split(lower(text), ' +'), t -> t != ''), t -> xxhash64(t))) AS sh,
         |  size(graft_minhash64(transform(filter(split(lower(text), ' +'), t -> t != ''), t -> xxhash64(t)))) AS sig_len
         |FROM documents ORDER BY doc_id LIMIT 5""".stripMargin).collect()
    assert(r.length == 5)
    assert(r.forall(_.getInt(2) == 64))
  }
}
