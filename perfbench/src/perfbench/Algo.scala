package perfbench

import graft.algo.Algorithms
import graft.model.{GraphLoader, PropertyGraph, SharedMv, Tables}
import graft.vector.VectorSearch
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

object Algo {
  /** Algorithms whose entry point consults the `LocalKernels` gate. */
  val Gated = Set("pagerank", "wcc", "cdlp", "sssp", "bfs", "lcc", "triangles", "louvain")

  /** PageRank ranks sum to 1 (dangling mass is redistributed). */
  def checkMass(name: String, r: Row): Unit = {
    val mass = r.getDouble(2)
    Check(r.getLong(0) > 0 && math.abs(mass - 1.0) < 1e-6, s"$name rank mass $mass over ${r.getLong(0)} vertices")
  }

  def nonEmpty(name: String, r: Row): Unit =
    Check(r.getLong(0) > 0, s"$name returned no rows")

  def hex(r: Row): String = Digest.rows(Array(r))

  /** An algorithm op through `CALL algo.*`, reduced to a digest row. */
  def call(ctx: Ctx, name: String, key: String, g: => PropertyGraph, text: String,
           params: Map[String, Any] = Map.empty, sums: Seq[Column] = Nil)(check: Row => Unit): Op =
    Op(key, name, () => {
      val r = ctx.tracer.span("algo", name)(ctx.call(text, g, params, sums: _*))
      check(r)
      hex(r)
    })
}

/** Graph algorithms and kNN on the TPC-H projection (`GraphLoader.tpch`),
  * its part co-purchase graph and `embeddings.parquet`. Every gated input
  * is far below the `LocalKernels` thresholds. */
final class AlgoKernel(ctx: Ctx, dir: String, seed: Long) extends Workload {
  val NParams = 3
  // BFS and SSSP sources, and kNN queries, per cycle: point queries
  // outnumber whole-graph analytics, so the median latency falls among
  // them, not on the boundary between two kinds of op
  val Sources = 5
  val Queries = 1
  private var tpch: PropertyGraph = _
  private var co: PropertyGraph = _
  private var sampleEdges: DataFrame = _
  private var emb: DataFrame = _
  private var ivf: DataFrame = _
  private var centroids: Array[Array[Double]] = _
  private var customers: IndexedSeq[Long] = _
  private var orders: IndexedSeq[Long] = _
  private var queries: IndexedSeq[(Long, Seq[Float])] = _ // (stored id, its vector) per parameter set

  def load(): Unit = {
    val spark = ctx.spark
    tpch = GraphLoader.tpch(spark, dir)
    // parts bought in the same order (a < b), materialized once per dataset
    val li = Tables(spark, dir, "lineitem")
    val pairs = SharedMv(spark, dir, Seq("lineitem"), "perfbench_copurchase") {
      li.select(col("l_orderkey").as("ok"), col("l_partkey").as("a"))
        .join(li.select(col("l_orderkey").as("ok"), col("l_partkey").as("b")), "ok")
        .filter(col("a") < col("b")).select(col("a"), col("b")).distinct()
    }
    val edges = pairs.select((col("a") * 1000000L + col("b")).as("id"), col("a").as("src"),
      col("b").as("dst"), lit("CO_PURCHASED").as("relationship"))
    // a seeded quarter of the parts also carries the label Sample: node2vec
    // and Jaccard, whose cost grows with the whole graph, run on the
    // subgraph it induces
    val p = col("p_partkey")
    val nodes = Tables(spark, dir, "part").select(p.as("id"),
      when(pmod(xxhash64(lit(seed), p), lit(4)) === 0, array(lit("Part"), lit("Sample")))
        .otherwise(array(lit("Part"))).as("labels"))
    co = PropertyGraph(nodes, edges)
    val sample = co.nodesWithLabel("Sample").select(col("id"))
    sampleEdges = edges.join(sample.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(sample.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
  }

  def prepare(): Unit = {
    emb = Tables(ctx.spark, dir, "embeddings")
    centroids = VectorSearch.kmeansCentroids(emb, "embedding", 16, 64, seed = seed)
    ivf = VectorSearch.ivfAssigned(emb, "vec_id", "embedding", centroids)
    customers = tpch.nodesWithLabel("Customer").select(col("id")).orderBy(col("id"))
      .collect().map(_.getLong(0)).toIndexedSeq
    orders = tpch.nodesWithLabel("Order").select(col("id")).orderBy(col("id"))
      .limit(20000).collect().map(_.getLong(0)).toIndexedSeq
    val vecIds = emb.select(col("vec_id")).orderBy(col("vec_id")).collect().map(_.getLong(0)).toIndexedSeq
    val ids = (0 until NParams * Queries).map(pick(vecIds, _, 3))
    val vecs = emb.filter(col("vec_id").isin(ids: _*)).select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    queries = ids.map(id => (id, vecs(id)))
  }

  private def pick(a: IndexedSeq[Long], p: Int, s: Int): Long =
    a(java.lang.Math.floorMod(Main.mix(seed * 1000003L + p * 8191L + s), a.length.toLong).toInt)

  private def knn(name: String, p: Int, k: Int)(search: Seq[Float] => DataFrame): Op =
    Op(s"$name#$p.$k", "knn", () => {
      val (id, q) = queries(p * Queries + k)
      val rows = ctx.tracer.span("vector", name)(
        ctx.tracer.span("exec", "collect")(search(q).collect()))
      Check(rows.nonEmpty && rows.head.getLong(0) == id,
        s"$name: stored vector $id is not its own top-1 hit")
      Digest.rows(rows)
    })

  def warmup: Seq[Op] = ops(0)
  def cycle(c: Int): Seq[Op] = ops(c % NParams)

  private def ops(p: Int): Seq[Op] = {
    def call(name: String, g: => PropertyGraph, text: String, params: Map[String, Any] = Map.empty,
             sums: Seq[Column] = Nil, k: Int = 0)(check: Row => Unit): Op =
      Algo.call(ctx, name, s"$name#$p.$k", g, text, params, sums)(check)
    // the per-source queries, several per cycle
    val sourced = (0 until Sources).flatMap { k =>
      Seq(call("sssp", tpch, "CALL algo.sssp($src, 6, 'CONTAINS,HAS_PART')",
          Map("src" -> pick(orders, p * Sources + k, 2)), k = k)(Algo.nonEmpty("sssp", _)),
        call("bfs", tpch, "CALL algo.bfs($src, 4, 'PLACED,CONTAINS,HAS_PART,SUPPLIED_BY')",
          Map("src" -> pick(customers, p * Sources + k, 1)), k = k)(Algo.nonEmpty("bfs", _)))
    } ++ (0 until Queries).flatMap { k =>
      Seq(knn("knn_exact", p, k)(q => VectorSearch.knnExact(emb, "vec_id", "embedding", q, 10)),
        knn("knn_ivf", p, k)(q => VectorSearch.knnIvfAssigned(ivf, "vec_id", "embedding", q, 10, centroids, 3)))
    }
    Seq(
      call("pagerank", co, "CALL algo.pageRank(8, 0.85, 'CO_PURCHASED')",
        sums = Seq(sum(col("rank"))))(Algo.checkMass("pagerank", _)),
      call("wcc", co, "CALL algo.wcc('CO_PURCHASED')")(Algo.nonEmpty("wcc", _)),
      call("cdlp", co, "CALL algo.cdlp(5, 'CO_PURCHASED')")(Algo.nonEmpty("cdlp", _)),
      call("lcc", co, "CALL algo.lcc('CO_PURCHASED')")(Algo.nonEmpty("lcc", _)),
      call("triangles", co, "CALL algo.triangleCount('CO_PURCHASED')")(Algo.nonEmpty("triangles", _)),
      call("louvain", co, "CALL algo.louvain(2, 'CO_PURCHASED')")(Algo.nonEmpty("louvain", _)),
      call("node2vec", co, "CALL algo.node2vec(3, 'Sample', 'CO_PURCHASED')")(Algo.nonEmpty("node2vec", _)),
      Op(s"jaccard#$p", "jaccard", () => Algo.hex(ctx.digest(ctx.tracer.span("algo", "jaccard")(
        Algorithms.jaccardSimilarityApprox(sampleEdges, 64, 32, 0.3)))))) ++ sourced
  }
}

/** Superstep algorithms on a generated power-law graph whose edge plan
  * the `LocalKernels` gate sends to the distributed loops. */
final class AlgoDist(ctx: Ctx, vertices: Long, seed: Long) extends Workload {
  val NParams = 3
  private var g: PropertyGraph = _

  def load(): Unit = {
    val e = Gen.powerLaw(ctx.spark, vertices, seed)
    val edges = e.select((col("src") * 256L + col("dst") % 256L).as("id"), col("src"), col("dst"),
      lit("LINK").as("relationship"), col("weight"))
    g = PropertyGraph(ctx.spark.range(0, vertices).select(col("id"), array(lit("V")).as("labels")), edges)
  }
  def prepare(): Unit = ()

  private def src(p: Int): Long =
    java.lang.Math.floorMod(Main.mix(seed * 1000003L + p * 8191L + 1), vertices)

  def warmup: Seq[Op] = ops(0)
  def cycle(c: Int): Seq[Op] = ops(c % NParams)

  private def ops(p: Int): Seq[Op] =
    Seq(
      Algo.call(ctx, "pagerank", s"pagerank#$p", g, "CALL algo.pageRank(3, 0.85)",
        sums = Seq(sum(col("rank"))))(Algo.checkMass("pagerank", _)),
      Algo.call(ctx, "bfs", s"bfs#$p", g, "CALL algo.bfs($src, 3)", Map("src" -> src(p)))(Algo.nonEmpty("bfs", _)),
      Algo.call(ctx, "sssp", s"sssp#$p", g, "CALL algo.sssp($src, 3)", Map("src" -> src(p)))(Algo.nonEmpty("sssp", _)),
      Algo.call(ctx, "cdlp", s"cdlp#$p", g, "CALL algo.cdlp(3)")(Algo.nonEmpty("cdlp", _)))
}
