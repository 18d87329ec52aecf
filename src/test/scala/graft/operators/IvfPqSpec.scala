package graft.operators

import graft.{TempSources, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** x102 IVF+PQ: artifact shape, compression ratio, rebuild determinism, and
  * search quality on a clustered 64-dim fixture (4 anchor directions + small
  * perturbations — the regime IVF+PQ exists for; the isotropic testdata
  * corpus is its worst case and is covered by the gate's recall floors). */
class IvfPqSpec extends AnyFunSuite with TempSources {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dir: String = {
    val d = tempSource()
    val rnd = new scala.util.Random(42)
    val anchors = Array.fill(4, 64)(rnd.nextFloat() * 2f - 1f)
    // 200 vectors: enough to amortize the fixed 8 KiB codebook so the
    // whole-index >= 4x assertion is the honest asymptotic claim (payload
    // alone is 32x; the codebook is O(1) in corpus size)
    val embs = (0 until 200).map { id =>
      val a = anchors(id % 4)
      (id.toLong, a.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f), id % 4)
    }.toDF("vec_id", "embedding", "label")
    TestSpark.writeTable(d, "embeddings", embs)
    d
  }

  private def dirBytes(p: java.io.File): Long =
    Option(p.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) dirBytes(f) else f.length()
    }.sum

  test("search returns 5 reranked neighbors per query and the recall floors hold") {
    val rows = Similarity.queries("x102_ivf_pq")(spark, dir).collect()
    assert(rows.length === 50) // 10 queries x 5 neighbors
    assert(rows.map(_.getAs[Long]("qid")).distinct.length === 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("adc") >= 0L)
      assert(r.getAs[Boolean]("recall5_floor_ok"), s"per-query recall floor failed: $r")
      assert(r.getAs[Boolean]("corpus_recall_ok"))
    }
    // clustered corpus: the ADC shortlist + exact re-rank should recover
    // nearly all of the exact top-5, not just clear the 2/5 gate floor
    val hits = rows.filter(_.getAs[Long]("rk") == 1L).map(_.getAs[Long]("q_hits"))
    assert(hits.sum >= 40L, s"avg recall@5 below 0.8 on clustered data: ${hits.toSeq}")
  }

  test("PQ payload shrinks the searched index >= 4x (logical bytes, codebook included)") {
    val idx = Similarity.ivfEnsureGateIndex(spark, dir)
    val codes = spark.read.parquet(s"$idx/pq_codes")
    val cb = spark.read.parquet(s"$idx/pq_codebooks")
    val nVec = codes.count()
    assert(nVec === 200L)
    // raw float32 payload vs pcodes int64 + full codebook
    val rawBytes = nVec * 64 * 4
    val pqBytes = nVec * 8 + cb.count() * 8
    assert(rawBytes >= 4 * pqBytes, s"raw=$rawBytes pq=$pqBytes")
    // on-disk: the codes parquet must be smaller than the embedding parquet
    val codesDisk = dirBytes(new java.io.File(s"$idx/pq_codes"))
    val embDisk = dirBytes(new java.io.File(s"$dir/embeddings.parquet"))
    assert(codesDisk < embDisk, s"codes=$codesDisk emb=$embDisk")
    // nibble packing: every code field decodes to [0, 16)
    val maxNibble = codes
      .selectExpr("max(greatest(" + (0 until 8)
        .map(m => s"shiftright(pcodes, ${4 * m}) & 15")
        .mkString(", ") + ")) AS mx")
      .head()
      .getAs[Long]("mx")
    assert(maxNibble < 16L)
  }

  test("rebuild from scratch is bit-identical (integer Lloyd determinism)") {
    val idx = Similarity.ivfEnsureGateIndex(spark, dir)
    def checksum(): (Long, Long) = {
      val c1 = spark.read
        .parquet(s"$idx/pq_codebooks")
        .selectExpr("sum(cq * (m * 1000 + code * 10 + j)) AS ck")
        .head()
        .getLong(0)
      val c2 = spark.read
        .parquet(s"$idx/pq_codes")
        .selectExpr("sum(pcodes * vec_id + pcodes) AS ck")
        .head()
        .getLong(0)
      (c1, c2)
    }
    val first = checksum()
    // drop the marker so the next ensure call rebuilds the index and both PQ artifacts
    assert(new java.io.File(s"$idx/src_key").delete())
    Similarity.ivfEnsureGateIndex(spark, dir)
    assert(checksum() === first)
  }
}
