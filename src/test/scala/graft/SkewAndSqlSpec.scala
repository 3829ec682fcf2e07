package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Skew
import graft.functions.{HilbertIndex, MinHashSlots, TextDHash, WinnowFingerprints}

/** Salted-join / salted-agg equivalence and the SQL function surface. */
class SkewAndSqlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // skewed: 90% of rows share key 0
  private lazy val big = (1 to 1000)
    .map(i => (if (i % 10 == 0) i % 7 else 0, i.toDouble)).toDF("k", "v")
  private lazy val small = (0 to 6).map(i => (i, s"dim$i")).toDF("k", "name")

  test("salted join ≡ plain join") {
    val plain = big.join(small, Seq("k")).groupBy("k", "name")
      .agg(count(lit(1)).as("n"), round(sum("v"), 6).as("s"))
      .orderBy("k").collect().toSeq
    val salted = Skew.saltedJoin(big, small, "k", salts = 8).groupBy("k", "name")
      .agg(count(lit(1)).as("n"), round(sum("v"), 6).as("s"))
      .orderBy("k").collect().toSeq
    assert(salted == plain)
  }

  test("salted two-phase aggregation ≡ direct aggregation") {
    val direct = big.groupBy("k")
      .agg(sum("v").as("sum_value"), count(lit(1)).as("n"))
      .orderBy("k").collect().toSeq
    val salted = Skew.saltedSumCount(big, "k", col("v"), salts = 8)
      .orderBy("k").collect().toSeq
    assert(salted == direct)
  }

  test("reducerBalanceAudit: conservation, bounds, and the hot-key signature") {
    val out = Skew.reducerBalanceAudit(big, col("k"), Seq(4, 8, 16))
      .orderBy("candidate_p").collect()
    assert(out.map(_.getAs[Int]("candidate_p")).toSeq == Seq(4, 8, 16))
    out.foreach { r =>
      val p = r.getAs[Int]("candidate_p")
      assert(r.getAs[Long]("n_rows") == 1000L)           // every width sees all rows
      assert(r.getAs[Long]("n_used") <= p)
      assert(r.getAs[Long]("max_rows") >= 901L)          // key 0 carries 901 rows:
      assert(r.getAs[Long]("max_load_bp") >= 10000L)     // no width can balance it,
    }
    // ...and the signature grows with P: more reducers, same hot reducer
    val bps = out.map(_.getAs[Long]("max_load_bp"))
    assert(bps(2) > bps(0), s"hot-key max_load_bp should grow with P: $bps")
    // uniform keys: every width lands near ideal
    val uniform = (1 to 4096).map(i => i.toLong).toDF("k")
    Skew.reducerBalanceAudit(uniform, col("k"), Seq(8)).collect().foreach { r =>
      assert(r.getAs[Long]("n_used") == 8L)
      assert(r.getAs[Long]("max_load_bp") < 13000L, s"uniform keys skewed: $r")
    }
  }

  test("graft_dot is callable from SQL after registration") {
    val r = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(r == 11.0)
  }

  test("constant-arg kernels are callable from SQL; each matches its DataFrame twin") {
    import org.apache.spark.sql.functions._
    // shingles with a foldable width
    val sh = spark.sql(
      "SELECT graft_word_shingles('a b c d', 3) AS s").head().getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    // minhash slots: SQL == kernel column API on the same text
    val viaSql = spark.sql(
      "SELECT graft_minhash_slots('spark scans fast today', 3) AS m")
      .head().getSeq[Long](0)
    val viaApi = Seq("spark scans fast today").toDF("t")
      .select(MinHashSlots.minhashSlots(col("t"), 3)).head().getSeq[Long](0)
    assert(viaSql == viaApi)
    // text stats with a foldable stopword array
    val ts = spark.sql(
      "SELECT graft_text_stats('the fast fox', array('the', 'a')).n_tokens AS n")
      .head().getInt(0)
    assert(ts == 3)
    // hilbert index with foldable bits
    val h = spark.sql("SELECT graft_hilbert_index(3L, 5L, 4) AS h").head().getLong(0)
    val hApi = Seq((3L, 5L)).toDF("x", "y")
      .select(HilbertIndex.hilbertIndex(col("x"), col("y"), 4)).head().getLong(0)
    assert(h == hApi)
    // winnow fingerprints: SQL == column API
    val wSql = spark.sql(
      "SELECT graft_winnow_fingerprints('p q r s t u v w', 4, 3) AS w")
      .head().getSeq[Long](0)
    val wApi = Seq("p q r s t u v w").toDF("t")
      .select(WinnowFingerprints.winnowFingerprints(col("t"), 4, 3))
      .head().getSeq[Long](0)
    assert(wSql == wApi)
    // positional dHash: SQL == column API, and the hand case — one char
    // per segment cell for a 64-char text, strictly decreasing codepoints
    // → every diff bit set → (2^63 − 1)
    val dSql = spark.sql("SELECT graft_text_dhash('abc') AS d").head().getLong(0)
    val dApi = Seq("abc").toDF("t")
      .select(TextDHash.textDHash(col("t"))).head().getLong(0)
    assert(dSql == dApi)
    val desc = (0 until 64).map(i => ('z' - i % 26).toChar).mkString
    assert(desc.length == 64) // one code point per cell
    // cells cycle z..a then z..: descending runs set bits except at wraps
    val dh = Seq(desc).toDF("t")
      .select(TextDHash.textDHash(col("t"))).head().getLong(0)
    val expected = (0 until 63).filter(i => desc(i) > desc(i + 1))
      .map(1L << _).sum
    assert(dh == expected)
    // non-foldable constant args are rejected with a clear error
    val err = intercept[Exception] {
      spark.sql("SELECT graft_word_shingles(t, CAST(rand() * 3 AS INT)) " +
        "FROM (SELECT 'a b' AS t)").collect()
    }
    assert(err.getMessage.contains("foldable"))
  }
}
