package graft

import org.apache.spark.sql.functions._

import graft.knn.ExactKnn
import graft.operators.HybridSearch

class HybridSearchSpec extends SparkSpec {

  test("mmr: lambda=1 degenerates to the plain top-k ranking") {
    val mmr = HybridSearch.mmrTopK(spark, sf0001, k = 10, lambda = 1.0)
      .orderBy(col("rank")).collect().map(r => r.getLong(1))
    val plain = ExactKnn.topKSingle(spark, sf0001, k = 10)
      .collect().map(r => r.getLong(0))
    assert(mmr.sameElements(plain))
  }

  test("mmr: k distinct results, first pick is the nearest neighbor") {
    val rows = HybridSearch.mmrTopK(spark, sf0001, k = 10, lambda = 0.7)
      .orderBy(col("rank")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 10 && rows.map(_._2).distinct.length == 10)
    assert(rows.map(_._1).sameElements(1 to 10))
    val nearest = ExactKnn.topKSingle(spark, sf0001, k = 1).head.getLong(0)
    assert(rows.head._2 == nearest)
    // scores within the selection order may rise or fall, but every
    // result must come from the candidate depth
    val cand = ExactKnn.topKSingle(spark, sf0001, k = 50)
      .collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => cand(r._2)))
  }

  test("mmr: diversification changes the order vs pure relevance") {
    val diverse = HybridSearch.mmrTopK(spark, sf0001, k = 10, lambda = 0.3)
      .orderBy(col("rank")).collect().map(_.getLong(1))
    val plain = ExactKnn.topKSingle(spark, sf0001, k = 10)
      .collect().map(r => r.getLong(0))
    // λ=0.3 weights diversity heavily; on gaussian fixture data the
    // greedy must deviate from the pure-distance ranking
    assert(!diverse.sameElements(plain))
  }

  test("fused-ranking memo: term lists that join alike get their own " +
      "entries and rankings") {
    def builds = IndexCache.auditLog.count(_._2 == "hybrid-rrf")
    def lexicalHits(terms: Seq[String]) =
      HybridSearch.rrfTopK(spark, sf0001, terms, k = 200).collect()
        .count(r => !r.isNullAt(r.fieldIndex("bm25_rank")))
    val before = builds
    // "join+window" matches no token, so its lexical leg is empty
    assert(lexicalHits(Seq("join+window")) == 0)
    assert(lexicalHits(Seq("join", "window")) > 0)
    // a ':' inside a term no longer shifts the key's later fields
    assert(lexicalHits(Seq("join:29")) == 0)
    assert(builds == before + 3)
  }

  test("hybrid end-to-end: provenance consistent, source cap enforced") {
    val rows = HybridSearch.hybridEndToEnd(spark, sf0001)
      .orderBy(col("rank")).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    assert(rows.map(_.getInt(0)).sameElements(1 to rows.length), "dense rank")
    // diversity: never more than 2 results from one source
    rows.groupBy(_.getString(2)).foreach { case (src, g) =>
      assert(g.length <= 2, s"source $src over cap") }
    // provenance: each kept row came from the fused top-30 — its rrf
    // must equal the fusion formula over its own leg ranks
    rows.foreach { r =>
      val bm = Option(r.get(4)).map(_.asInstanceOf[Int])
      val ve = Option(r.get(5)).map(_.asInstanceOf[Int])
      val expect = bm.map(x => 1.0 / (x + 60)).getOrElse(0.0) +
        ve.map(x => 1.0 / (x + 60)).getOrElse(0.0)
      assert(math.abs(r.getDouble(3) - expect) < 1e-6, s"rrf of row $r")
      assert(bm.nonEmpty || ve.nonEmpty)
    }
    // composition changes the answer vs the undiversified fusion: the
    // kept set is the capped prefix, so every kept rrf is >= any
    // dropped same-source competitor below it (spot: set inclusion)
    val fusedTop = HybridSearch.rrfTopK(spark, sf0001, k = 30)
      .collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => fusedTop(r.getLong(1))),
      "kept rows come from the fused top-30")
  }
}
