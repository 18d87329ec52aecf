package graft.operators

import graft.{TempSources, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** x170: the persisted inverted index must (a) answer point lookups by
  * opening only the query terms' bucket directories — the partition-
  * pruning contract that makes the index an index — and (b) reproduce
  * x32's corpus-scan ranking exactly (same integer scoring, frozen df/N).
  */
class InvertedIndexSpec extends AnyFunSuite with TempSources {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("point lookup opens only the query terms' bucket directories (≤3 of 64)") {
    val dir = TextAnalysis.invIdxEnsure(spark, sf)
    val all = spark.read.parquet(s"$dir/postings")
    val allBuckets = all.inputFiles.flatMap("bucket=(\\d+)".r.findFirstMatchIn(_).map(_.group(1))).distinct
    assert(allBuckets.length > 10, s"fixture vocabulary should spread over many buckets: ${allBuckets.length}")
    val qterms = Seq("table", "spark", "window")
    val qbuckets = qterms.map(t => graft.functions.Hashing.md5BucketOf(t, 64L)).distinct
    val pruned = all.where(org.apache.spark.sql.functions.col("bucket").isInCollection(qbuckets))
    // inputFiles ignores filters — assert on the EXECUTED scan: the
    // bucket predicate must land in PartitionFilters and the scan's
    // post-pruning file list must stay inside the query buckets
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*bucket[^\\]]*\\].*"), plan.take(2000))
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val listing = scan.selectedPartitions
    assert(listing.partitionCount <= qbuckets.length, s"${listing.partitionCount} partitions for $qbuckets")
    val opened = listing.toPartitionArray
      .flatMap(p => "bucket=(\\d+)".r.findFirstMatchIn(p.urlEncodedPath).map(_.group(1).toLong))
      .distinct
    assert(opened.toSet.subsetOf(qbuckets.toSet), s"opened ${opened.toSeq} for $qbuckets")
  }

  test("the indexed path reproduces the x32 corpus-scan ranking exactly") {
    val viaIndex = TextAnalysis
      .queries("x170_inverted_index")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score"), r.getAs[Long]("n_terms_hit")))
    val viaScan = TextAnalysis
      .queries("x32_keyword_search")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score"), r.getAs[Long]("n_terms_hit")))
    assert(viaIndex.toSeq === viaScan.toSeq)
  }

  test("the artifact rebuilds when the source fingerprint changes") {
    import spark.implicits._
    val dir = tempSource()
    def write(docs: Seq[(Long, String)]): Unit =
      docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(Seq((0L, "table table spark"), (1L, "window spark")))
    val idx1 = TextAnalysis.invIdxEnsure(spark, dir)
    val n1 = spark.read.parquet(s"$idx1/totals").collect()(0).getLong(0)
    assert(n1 === 2L)
    Thread.sleep(1100) // mtime granularity: ensure the fingerprint moves
    write(Seq((0L, "table"), (1L, "spark"), (2L, "window window")))
    val idx2 = TextAnalysis.invIdxEnsure(spark, dir)
    val n2 = spark.read.parquet(s"$idx2/totals").collect()(0).getLong(0)
    assert(n2 === 3L, "stale artifact reused after the source changed")
  }
}
