package graft

/** The driver's flagship contract: `SparkEntry.entry` clusters the
  * sf0.001 documents table into (doc_id, cluster_id) assignments. */
class SparkEntrySpec extends SparkSpec {
  import spark.implicits._

  test("entry: one assignment per document, cluster_id <= doc_id") {
    val docIds = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id").as[Long].collect().sorted
    val got = SparkEntry.entry(spark).select("doc_id", "cluster_id").as[(Long, Long)].collect()
    assert(docIds.nonEmpty)
    assert(got.map(_._1).sorted.sameElements(docIds), "one row per document")
    assert(got.forall { case (d, c) => c <= d }, "cluster_id is the least member id")
  }
}
