package perfbench

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.functions.VectorFunctions.toDoubleArray
import graft.knn.{ExactKnn, HnswKnn, IvfKnn}
import graft.operators.Evaluation
import graft.sources.Ingest

/** Helpers shared by the workloads. */
object Io {
  /** (vec_id, emb) rows of a relation, on the driver. */
  def vectors(df: DataFrame): Array[Oracle.Vec] =
    df.select(col("vec_id"), col("emb")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** The whole generated table on the driver, by vec_id. */
  def table(spark: SparkSession, dir: String): Array[Oracle.Vec] =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDoubleArray(col("embedding"))).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** (qid, vec_id, dist, rk) answer rows grouped per query, in rank order. */
  def byQuery(rows: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Number]("rk").longValue)
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dist"))).toSeq
    }

  /** The same answer rows as a local relation, for the eval layer. */
  def local(spark: SparkSession, df: DataFrame, rows: Array[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)

  /** HnswIndex.stats over all shards: layer-0 edges and the top level. */
  def hnswStats(rec: Recorder, index: HnswKnn.HnswDistIndex): Unit = {
    val stats = index.placed.map(_._2.stats).collect()
    rec.value("l0_edges", stats.map(_._3).sum.toDouble)
    rec.value("max_level", stats.map(_._2).max.toDouble)
  }

  def persisted(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }
}

/** Ingest NDJSON, split, build HNSW and IVF, batch-search both, score
  * recall against sampled exact ground truth, then insert a held-back
  * slab into both indexes, delete another slab, and search again.
  */
final class AnnPipeline(m: Manifest, rec: Recorder) extends Workload {
  private val dir = m.str("dir")
  private val slabDir = m.str("slab_dir")
  private val k = m.int("k")
  private val ef = m.int("ef")
  // the untimed rank-1 check after the insert uses a wider beam, so that a
  // miss means the insert broke the graph rather than that the beam was narrow
  private val selfEf = m.int("self_ef")
  private val shards = m.int("shards")
  private val nCentroids = m.int("n_centroids")
  private val nprobe = m.int("nprobe")
  private val gtEvery = m.int("gt_every")
  // the query batch is searched this many times in a round, each time in
  // its own `search` group: search_qps is the median over these batches
  private val searchReps = m.int("search_reps")
  private val slabRows = m.int("slab")
  private val deletes = m.int("deletes")
  private var last: Outputs = _

  /** What one round produced, for the checks. */
  private final case class Outputs(rowsRead: Long, splitAt: Long, n: Long,
      queries: DataFrame, slab: DataFrame, hnsw: HnswKnn.HnswDistIndex, ivf: IvfKnn.IvfIndex,
      hnsw2: HnswKnn.HnswDistIndex, truth: DataFrame, searches: Seq[(Array[Row], Array[Row])],
      evalRecall: (Double, Double), mutatedRows: Long, hnswAfter: Array[Row], ivfAfter: Array[Row]) {
    def hnswRows: Array[Row] = searches.head._1
    def ivfRows: Array[Row] = searches.head._2
  }

  def setup(spark: SparkSession): Unit = {
    Tables.embeddings(spark, dir).schema
    Tables.embeddings(spark, slabDir).schema
  }

  def round(spark: SparkSession, index: Int, phase: String): Unit = {
    Main.release(spark)
    val out = rec.group(phase) {
      val (rowsRead, queries) = rec.step("sources.ingest", m.int("rows")) {
        val df = Io.persisted(Ingest.readNdjson(spark, m.str("ndjson"), Int.MaxValue))
        val (_, held) = Ingest.splitDataset(df, 0.95)
        (df.count(), held.select(col("row_id").as("vec_id"), col("vector").as("emb")))
      }
      val (base, _, splitAt, n) = rec.step("knn.exact.split", m.int("rows")) {
        ExactKnn.split(spark, dir)
      }
      val nq = (n - splitAt).toInt
      val hnsw = rec.step("knn.hnsw.build", splitAt) {
        val ix = HnswKnn.buildIndex(base, shards).persist()
        ix.graphs.count()
        ix
      }
      rec.step("knn.hnsw.place", splitAt)(hnsw.placed.count())
      val centroids = rec.step("knn.ivf.train", splitAt) {
        IvfKnn.trainCentroids(base, nCentroids).map(_.toArray).toArray
      }
      val ivf = rec.step("knn.ivf.assign", splitAt) {
        IvfKnn.IvfIndex(centroids, Io.persisted(IvfKnn.assignCids(base, centroids)))
      }
      val truth = rec.step("knn.exact.ground_truth", (nq + gtEvery - 1) / gtEvery) {
        ExactKnn.topKBatchSampled(spark, dir, k, gtEvery)
      }
      rec.value("index_bytes", Main.heldBytes(spark))

      val searches = (1 to searchReps).map(_ => rec.group("search") {
        val hnswDf = HnswKnn.searchIndex(hnsw, queries, k, ef)
        val hnswRows = rec.step("knn.hnsw.search", nq)(hnswDf.collect())
        val ivfDf = IvfKnn.searchIndexDF(ivf, queries, k, nprobe)
        val ivfRows = rec.step("knn.ivf.search", nq)(ivfDf.collect())
        (hnswDf, hnswRows, ivfDf, ivfRows)
      })
      val (hnswDf, hnswRows, ivfDf, ivfRows) = searches.head
      val evalRecall = rec.step("eval.recall", 2) {
        def recall(df: DataFrame, rows: Array[Row]) =
          Evaluation.recall(Io.local(spark, df, rows), truth).head().getDouble(0)
        (recall(hnswDf, hnswRows), recall(ivfDf, ivfRows))
      }

      val slab = Tables.embeddings(spark, slabDir)
        .select(col("vec_id"), toDoubleArray(col("embedding")).as("emb"))
      val hnsw2 = rec.step("knn.hnsw.insert", slabRows) {
        val ix = HnswKnn.insertIntoIndex(hnsw, slab).persist()
        ix.graphs.count()
        ix.placed.count()
        ix
      }
      val ivf2 = rec.step("knn.ivf.insert", slabRows) {
        val grown = IvfKnn.insertIntoIndex(ivf, slab)
        grown.copy(assigned = Io.persisted(grown.assigned))
      }
      val dropped = base.filter(col("vec_id") < deletes).select(col("vec_id"))
      val (mutatedRows, ivf3) = rec.step("sources.insert_delete", slabRows + deletes) {
        val mutated = Io.persisted(
          Ingest.deleteByKey(Ingest.insertMany(base, slab), dropped, "vec_id"))
        (mutated.count(), ivf2.copy(assigned =
          Io.persisted(Ingest.deleteByKey(ivf2.assigned, dropped, "vec_id"))))
      }
      val probes = queries.unionByName(slab)
      val hnswAfter = rec.step("knn.hnsw.search", nq + slabRows) {
        HnswKnn.searchIndex(hnsw2, probes, k, ef).collect()
      }
      val ivfAfter = rec.step("knn.ivf.search", nq + slabRows) {
        IvfKnn.searchIndexDF(ivf3, probes, k, nprobe).collect()
      }
      Outputs(rowsRead, splitAt, n, queries, slab, hnsw, ivf, hnsw2, truth,
        searches.map { case (_, h, _, i) => (h, i) }, evalRecall, mutatedRows, hnswAfter, ivfAfter)
    }
    last = out
  }

  /** Every round computes the same answers from the same input, so the
    * last round's outputs stand for all of them.
    */
  def verify(spark: SparkSession): Unit = {
    val o = last
    import o._
    val all = Io.table(spark, dir)
    val base = all.take(splitAt.toInt).toSeq
    val planted = m.int("ndjson_planted")
    val droppedLines = m.int("rows") + planted - rowsRead
    rec.value("rows_ingested", rowsRead.toDouble)
    rec.value("rows_dropped", droppedLines.toDouble)
    rec.check("sources.ingest dropped lines == planted", droppedLines == planted,
      s"dropped $droppedLines, planted $planted")
    val ingestedQueries = Io.vectors(queries)
    rec.check("sources.ingest keeps file order and values",
      ingestedQueries.length == n - splitAt && ingestedQueries.forall { case (id, v) =>
        java.util.Arrays.equals(v, all(id.toInt)._2)
      }, "ingested query rows differ from the generated table")

    // brute-force answers for every query: they check the ground truth on
    // the sampled queries, and give the reported recall over all queries
    // (in parallel: this is the checks' largest cost)
    val oracle = (splitAt until n).par.map(q => q -> Oracle.topK(base, all(q.toInt)._2, k)).seq.toMap
    val sampled = (splitAt until n by gtEvery.toLong)
    val truthRows = Io.byQuery(truth.collect())
    rec.check("knn.exact.ground_truth matches brute force on every sampled query",
      truthRows.keySet == sampled.toSet && sampled.forall(q => truthRows(q) == oracle(q)),
      "ground truth differs from brute force")

    val inBase = (id: Long) => id >= 0 && id < splitAt
    for ((name, rows) <- Seq("knn.hnsw.search" -> hnswRows, "knn.ivf.search" -> ivfRows)) {
      val ans = Io.byQuery(rows)
      rec.check(s"$name answers every query with k ranked base rows",
        ans.keySet == (splitAt until n).toSet &&
          ans.values.forall(Oracle.wellFormed(_, k, inBase)), s"$name malformed answer")
    }
    rec.check("knn.hnsw.search and knn.ivf.search answer a repeated batch the same",
      searches.tail.forall { case (h, i) =>
        Io.byQuery(h) == Io.byQuery(hnswRows) && Io.byQuery(i) == Io.byQuery(ivfRows)
      }, "a repeated search answered differently")
    def ids(answers: Map[Long, Seq[(Long, Double)]]) = answers.map { case (q, rs) => q -> rs.map(_._1).toSet }
    val (gt, exact) = (ids(truthRows), ids(oracle))
    val counted = (Oracle.round6(Oracle.recall(Io.byQuery(hnswRows), gt)),
      Oracle.round6(Oracle.recall(Io.byQuery(ivfRows), gt)))
    rec.check("eval.recall equals the hits counted over the ground truth",
      counted == evalRecall, s"$evalRecall, counted $counted")
    rec.value("recall_hnsw", Oracle.recall(Io.byQuery(hnswRows), exact))
    rec.value("recall_ivf", Oracle.recall(Io.byQuery(ivfRows), exact))

    val slabIds = (n until n + slabRows).toSet
    val probed = (splitAt until n).toSet ++ slabIds
    val live = (id: Long) => (inBase(id) && id >= deletes) || slabIds(id)
    val after = Io.byQuery(ivfAfter)
    // a wider beam than the timed search, run here so that it is not timed
    val self = Io.byQuery(HnswKnn.searchIndex(hnsw2, slab, k, selfEf).collect())
    def misses(ans: Map[Long, Seq[(Long, Double)]]) =
      slabIds.count(s => !ans.get(s).exists(_.headOption.exists(_._1 == s)))
    rec.check("knn.hnsw.insert: each inserted vector finds itself at rank 1",
      misses(self) == 0, s"${misses(self)} misses")
    rec.check("knn.hnsw.search after the insert answers every query with k ranked rows",
      Io.byQuery(hnswAfter).keySet == probed && Io.byQuery(hnswAfter).values.forall(
        Oracle.wellFormed(_, k, id => inBase(id) || slabIds(id))), "malformed answer")
    rec.check("knn.ivf.insert: each inserted vector finds itself at rank 1",
      misses(after) == 0, s"${misses(after)} misses")
    rec.check("sources.insert_delete: deleted ids never come back",
      after.keySet == probed && after.values.forall(Oracle.wellFormed(_, k, live)),
      "deleted id in an answer")
    rec.check("sources.insert_delete row count",
      mutatedRows == splitAt + slabRows - deletes, s"$mutatedRows rows")

    if (rec.traced) {
      Io.hnswStats(rec, hnsw)
      val sizes = ivf.assigned.groupBy("cid").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val probedSizes = ingestedQueries.map { case (_, v) =>
        ivf.centroids.indices.sortBy(c => (Oracle.distance(ivf.centroids(c), v), c))
          .take(nprobe).map(c => sizes.getOrElse(c, 0L)).sum
      }
      rec.value("candidates_per_query", probedSizes.sum.toDouble / probedSizes.length)
    }
  }
}

/** One closed-loop client over a small corpus whose indexes are built in
  * set-up: queries rotate through exact single-query top-k, a one-row HNSW
  * search, a one-row IVF search and a `spark.sql` query on the engine's
  * SQL source.
  */
final class PointQuery(m: Manifest, rec: Recorder) extends Workload {
  private val dir = m.str("dir")
  private val k = m.int("k")
  private val ef = m.int("ef")
  private val shards = m.int("shards")
  private val nCentroids = m.int("n_centroids")
  private val nprobe = m.int("nprobe")
  private val block = m.int("round_queries")
  private var splitAt = 0L
  private var queries: Array[Oracle.Vec] = _
  private var hnsw: HnswKnn.HnswDistIndex = _
  private var ivf: IvfKnn.IvfIndex = _
  private val answered = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Seq[(Long, Double)])]

  def setup(spark: SparkSession): Unit = {
    val (base, qs, s, _) = rec.step("knn.exact.split", m.int("rows"))(ExactKnn.split(spark, dir))
    splitAt = s
    hnsw = rec.step("knn.hnsw.build", splitAt) {
      val ix = HnswKnn.buildIndex(base, shards).persist()
      ix.graphs.count()
      ix
    }
    rec.step("knn.hnsw.place", splitAt)(hnsw.placed.count())
    val centroids = rec.step("knn.ivf.train", splitAt) {
      IvfKnn.trainCentroids(base, nCentroids).map(_.toArray).toArray
    }
    ivf = rec.step("knn.ivf.assign", splitAt) {
      IvfKnn.IvfIndex(centroids, Io.persisted(IvfKnn.assignCids(base, centroids)))
    }
    queries = Io.vectors(qs).sortBy(_._1)
    rec.value("index_bytes", Main.heldBytes(spark))
    if (rec.traced) Io.hnswStats(rec, hnsw)
  }

  /** Query `i` of the given kind: the answer rows as (vec_id, dist). */
  private def query(spark: SparkSession, kind: Int, i: Int): Seq[(Long, Double)] = {
    val (qid, v) = queries(i % queries.length)
    def pairs(rows: Array[Row]) = rows.map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dist"))).toSeq
    kind match {
      case 0 => pairs(ExactKnn.topKSingle(spark, dir, k, queryIdx = qid - splitAt).collect())
      case 1 => Io.byQuery(HnswKnn.searchIndex(hnsw, Array((qid, v)), k, ef).collect())
          .getOrElse(qid, Nil)
      case 2 => Io.byQuery(IvfKnn.searchIndex(ivf, Array((qid, v)), k, nprobe).collect())
          .getOrElse(qid, Nil)
      case 3 =>
        spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW perfbench_search USING " +
          s"graft.sources.KnnDataSource OPTIONS (dir '$dir', backend 'search', " +
          s"k '$k', vector '${v.mkString(",")}')")
        pairs(spark.sql("SELECT vec_id, dist FROM perfbench_search ORDER BY dist, vec_id").collect())
    }
  }

  private val kinds = Seq("knn.exact.single", "knn.hnsw.single", "knn.ivf.single",
    "sources.sql_search")

  def round(spark: SparkSession, index: Int, phase: String): Unit = {
    val answers = rec.group(phase)(rec.group("search") {
      (0 until block).map { j =>
        val i = index * block + j
        val kind = i % kinds.size
        (kind, i, rec.step(kinds(kind))(query(spark, kind, i)))
      }
    })
    if (phase == "round") answered ++= answers
  }

  /** Checks every answer of the timed rounds, and measures the recall of
    * both indexes over all queries through the same search calls, batched.
    */
  def verify(spark: SparkSession): Unit = {
    val all = Io.table(spark, dir)
    val base = all.take(splitAt.toInt).toSeq
    val inBase = (id: Long) => id >= 0 && id < splitAt
    for ((kind, i, got) <- answered) {
      val q = queries(i % queries.length)._2
      kind match {
        case 0 => rec.check("knn.exact.single matches brute force",
          got == Oracle.topK(base, q, k), s"query $i")
        case 1 => rec.check("knn.hnsw.single answers k ranked base rows",
          Oracle.wellFormed(got, k, inBase), s"query $i")
        case 2 => rec.check("knn.ivf.single answers k ranked base rows",
          Oracle.wellFormed(got, k, inBase), s"query $i")
        case 3 => rec.check("sources.sql_search matches brute force",
          got == Oracle.topK(all.toSeq, q, k), s"query $i")
      }
    }
    val exact = queries.map { case (qid, v) => qid -> Oracle.topK(base, v, k).map(_._1).toSet }.toMap
    def recall(rows: Array[Row]) = Oracle.recall(Io.byQuery(rows), exact)
    rec.value("recall_hnsw", recall(HnswKnn.searchIndex(hnsw, queries, k, ef).collect()))
    rec.value("recall_ivf", recall(IvfKnn.searchIndex(ivf, queries, k, nprobe).collect()))
  }
}
