package graft

import graft.text.BM25
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential pins for incremental BM25 statistics (r5 VERDICT #6):
  * build(A ∪ B) and build(A).append(B) must be the same index — same
  * postings/docFreq/docIds CONTENT, same corpus scalars, same scores.
  */
class BM25IncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$dir/documents.parquet")

  private lazy val full = BM25.build(docs, "doc_id", "text")
  private lazy val inc = BM25.build(docs.where(col("doc_id") < 300), "doc_id", "text")
    .append(docs.where(col("doc_id") >= 300), "doc_id", "text")

  test("corpus scalars merge exactly: n, totalDl, avgdl; avgIdf to 1e-12") {
    assert(inc.n == full.n)
    assert(inc.totalDl == full.totalDl)
    assert(inc.avgdl == full.avgdl) // bit-equal: both totalDl/n on exact longs
    assert(math.abs(inc.avgIdf - full.avgIdf) < 1e-12)
  }

  test("postings and docFreq content equal the full rebuild") {
    assert(inc.postings.exceptAll(full.postings).isEmpty &&
      full.postings.exceptAll(inc.postings).isEmpty)
    assert(inc.docFreq.exceptAll(full.docFreq).isEmpty &&
      full.docFreq.exceptAll(inc.docFreq).isEmpty)
    assert(inc.docIds.count() == full.docIds.count())
  }

  test("scores equal the full rebuild row-for-row (single and batch)") {
    val q = Queries.bm25Query
    def rows(ix: BM25.Index) = ix.score(q)
      .select(col("id"), round(col("score"), 9).as("s"))
      .orderBy(col("s").desc, col("id").asc).limit(20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows(inc) == rows(full))
    def batch(ix: BM25.Index) = ix.scoreBatchTopK(Seq(1L -> q, 2L -> "cat dog"), 5)
      .select(col("qid"), col("id"), round(col("score"), 9).as("s"))
      .orderBy(col("qid"), col("s").desc, col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(batch(inc) == batch(full))
  }

  test("a second append composes (chain of two batches)") {
    val chained = BM25.build(docs.where(col("doc_id") < 200), "doc_id", "text")
      .append(docs.where(col("doc_id") >= 200 && col("doc_id") < 350), "doc_id", "text")
      .append(docs.where(col("doc_id") >= 350), "doc_id", "text")
    assert(chained.n == full.n && chained.totalDl == full.totalDl)
    assert(math.abs(chained.avgIdf - full.avgIdf) < 1e-12)
    assert(chained.docFreq.exceptAll(full.docFreq).isEmpty)
    chained.dispose()
  }

  test("a chain of 10 appends equals the full rebuild; docFreq's plan stays one node deep") {
    // append's df merge names the previous docFreq twice; exposed as is,
    // docFreq's plan doubled per append (OOM by the 7th at -Xmx4g)
    var ix = BM25.build(docs.where(col("doc_id") < 200), "doc_id", "text")
    val nodes = (0 until 10).map { i =>
      val lo = 200 + 30 * i
      val batch =
        if (i == 9) docs.where(col("doc_id") >= lo)
        else docs.where(col("doc_id") >= lo && col("doc_id") < lo + 30)
      ix = ix.append(batch, "doc_id", "text")
      PlanNodes.logical(ix.docFreq)
    }
    assert(nodes.forall(_ <= nodes.head) && nodes.head <= 2, s"docFreq plan nodes per append: $nodes")
    assert(ix.n == full.n && ix.totalDl == full.totalDl && ix.avgdl == full.avgdl)
    assert(math.abs(ix.avgIdf - full.avgIdf) < 1e-12)
    assert(ix.docFreq.exceptAll(full.docFreq).isEmpty && full.docFreq.exceptAll(ix.docFreq).isEmpty)
    def rows(i: BM25.Index) = i.score(Queries.bm25Query)
      .select(col("id"), round(col("score"), 9).as("s"))
      .orderBy(col("s").desc, col("id").asc).limit(20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows(ix) == rows(full))
    ix.dispose()
  }

  test("appending an empty batch is the identity on statistics") {
    val same = full.append(docs.where(col("doc_id") < 0), "doc_id", "text")
    assert(same.n == full.n && same.totalDl == full.totalDl &&
      math.abs(same.avgIdf - full.avgIdf) < 1e-12)
  }
}
