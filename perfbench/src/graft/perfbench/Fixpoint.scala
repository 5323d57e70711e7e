package graft.perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.pipeline.{Cluster, Dedup}
import graft.rel.{Graph, WhileFix}
import graft.rel.Checkpoint.PinOps
import graft.sources.ScratchBuckets

/** `fixpoint`: recursive and iterative queries over generated inputs.
  *
  * The graph is `Users` successor chains of `ChainLen` nodes plus
  * `SkipEdges` seeded edges that jump 2 to 5 places ahead within a chain
  * and `CrossEdges` seeded edges from one chain to a later position of
  * another chain of the same block of `BlockChains` chains. Every edge
  * leads to a later position, so no path is longer than a chain and the
  * closure's round count does not depend on the seed; a component spans
  * at most one block. (With cross edges between any two chains one
  * component of large diameter forms, and the distributed
  * connected-components op did not finish in 100 s: the size estimate of
  * its plan is a product that squares with every round's self-join.)
  *
  * Four op kinds, one pass each over the cycle:
  *  - `closure_dist`: a `WhileFix` closure from a seeded start set in the
  *    distributed tier over a bucketed `ScratchBuckets` edge layout (the
  *    q_while_dist fallback regime, reached with `tinyRows = 0`);
  *  - `pagerank_driver`: `Graph.pageRank` with fixed `iters`, on the
  *    broadcast tier the graph's size selects;
  *  - `cc_dist`: `Cluster.connectedComponents` in the distributed tier
  *    (`driverEdgeCap = 0`, as q_cc_dist);
  *  - `dedup_cc`: minhash near-dup pairs into `Cluster.survivors` over a
  *    generated corpus with planted duplicates, which runs connected
  *    components on its driver tier and keeps the pipeline layer measured.
  * The driver tier of the closure and the distributed tier of PageRank
  * are left out to keep a run inside the benchmark's time budget.
  * Results are checked against a driver-side BFS, power iteration,
  * union-find and the planted duplicate groups. */
final class Fixpoint(ctx: Ctx) extends Workload {
  import Fixpoint._

  val mix: Seq[String] = Seq("closure_dist", "pagerank_driver", "dedup_cc", "cc_dist")
  val cycleSeconds = 11.0
  private var edges: DataFrame = _
  private var docs: DataFrame = _
  private var dupGroups: Seq[Seq[Long]] = _
  private var edgeList: Array[(Long, Long)] = _
  private lazy val adjacency: Map[Long, Array[Long]] =
    edgeList.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  private val rounds = mutable.Map.empty[Int, (Int, Int)] // op → (rounds, distributed rounds)

  def sizes: Seq[Size] = Seq(
    Size("nodes", Nodes),
    Size("edges", edgeList.length),
    Size("edge_bytes_16B_per_row", edgeList.length * 16.0, 32L << 20, "under broadcast"),
    Size("closure_rows_max", Nodes, 100000, "under WhileFix tinyRows; tier forced"),
    Size("closure_frontier_rows_max", Nodes, 2000000, "under WhileFix layerPinRows"),
    Size("cc_edges_undirected", edgeList.length * 2.0, Cluster.defaultDriverEdgeCap,
      "under CC driver cap; tier forced in cc_dist"),
    Size("pagerank_rank_bytes_64B_per_node", Nodes * 64.0, 32L << 20,
      "under pageRank broadcastBytes"),
    Size("dedup_docs", BaseDocs * Replicas))

  def prepare(): Unit = {
    val r = ctx.rng(2)
    val chain = for (u <- 0 until Users; p <- 0 until ChainLen - 1)
      yield (id(u, p), id(u, p + 1))
    val skips = Seq.fill(SkipEdges) {
      val u = r.nextInt(Users)
      val p = r.nextInt(ChainLen - 2)
      (id(u, p), id(u, math.min(ChainLen - 1, p + 2 + r.nextInt(4))))
    }
    val cross = Seq.fill(CrossEdges) {
      val u = r.nextInt(Users)
      val block = u - u % BlockChains
      val v = block + (u % BlockChains + 1 + r.nextInt(BlockChains - 1)) % BlockChains
      val p = r.nextInt(ChainLen - 1)
      (id(u, p), id(v, p + 1 + r.nextInt(ChainLen - 1 - p)))
    }
    edgeList = (chain ++ skips ++ cross).distinct.toArray
    val path = new File(ctx.sub("data"), "graph.parquet").getPath
    import ctx.spark.implicits._
    edgeList.toSeq.toDF("src", "dst").write.parquet(path)
    // pinned once, as the in-repo closure queries pin their edge table:
    // every round of every op joins it
    edges = ctx.spark.read.parquet(path).pin()
    val (texts, groups) = corpus(ctx.rng(6))
    dupGroups = groups
    val dp = new File(ctx.sub("data"), "documents.parquet").getPath
    texts.toDF("doc_id", "text").write.parquet(dp)
    docs = ctx.spark.read.parquet(dp)
  }

  def op(i: Int): Op = {
    val kind = mix(Math.floorMod(i, mix.size))
    val seeds = {
      val r = ctx.rng(3000 + i)
      Seq.fill(SeedNodes)(id(r.nextInt(Users), r.nextInt(5))).distinct
    }
    Op(kind, () => kind match {
      case "closure_dist" => closure(i, seeds)
      case "pagerank_driver" => pageRank()
      case "dedup_cc" =>
        val pairs = Dedup.minhashPairs(docs, threshold = 0.5).select("id_a", "id_b")
        val kept = Cluster.survivors(docs, pairs)
        val out = kept.collect().map(_.getLong(0)).toSet
        kept.unpinAll()
        pairs.unpinAll() // the shingle and signature pins under the pairs
        out
      case "cc_dist" => components(i)
    })
  }

  /** The q_while_dist fallback regime: the edge side re-homed once into a
    * bucketed scratch layout, the closure started in the distributed tier. */
  private def closure(i: Int, seeds: Seq[Long]): (Seq[Long], Set[Long]) = {
    import ctx.spark.implicits._
    val probe = new WhileFix.Probe
    val layout = ScratchBuckets.create(edges, Seq("src"))
    val out =
      try {
        val df = ScratchBuckets.withSortedScans(ctx.spark)(
          WhileFix(seeds.toDF("node"),
            fr => fr.alias("f").join(layout.df.alias("e"), col("f.node") === col("e.src"))
              .select(col("e.dst").as("node")),
            tinyRows = 0L, probe = probe))
        val nodes = df.collect().map(_.getLong(0))
        df.unpinAll()
        nodes
      } finally layout.close(ctx.spark)
    rounds(i) = (probe.driverRounds + probe.distributedRounds, probe.distributedRounds)
    (seeds, out.toSet)
  }

  private def pageRank(): Map[Long, Double] = {
    val pr = Graph.pageRank(edges, iters = PageRankIters)
    val out = pr.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    pr.unpinAll()
    out
  }

  /** The distributed tier, as q_cc_dist reaches it. A traced run passes
    * a plan probe, which records one plan per round. */
  private def components(i: Int): Map[Long, Long] = {
    val probe = if (ctx.traced) new Cluster.PlanProbe else null
    val cc = Cluster.connectedComponents(edges, "src", "dst", driverEdgeCap = 0L,
      planProbe = probe)
    val out = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc.unpinAll()
    if (probe != null) rounds(i) = (probe.plans.size, 0)
    out
  }


  // --------------------------------------------------------------- checks

  private lazy val expectedRanks: Map[Long, Double] = {
    val nodes = (edgeList.map(_._1) ++ edgeList.map(_._2)).distinct
    val n = nodes.length.toDouble
    val outdeg = edgeList.groupBy(_._1).map { case (k, v) => k -> v.length }
    var pr = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to PageRankIters) {
      val in = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      edgeList.foreach { case (s, d) => in(d) += pr(s) / outdeg(s) }
      pr = nodes.map(v => v -> ((1.0 - Damping) / n + Damping * in(v))).toMap
    }
    pr
  }

  private lazy val expectedComponents: Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    edgeList.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  private def reachable(seeds: Seq[Long]): Set[Long] = {
    val seen = mutable.Set(seeds: _*)
    var frontier = seeds
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(adjacency.getOrElse(_, Array.empty[Long])).filter(seen.add)
    }
    seen.toSet
  }

  def check(recs: Seq[Rec]): Seq[String] = recs.filter(_.error == null).flatMap { rec =>
    val bad = rec.result match {
      case (seeds: Seq[Long] @unchecked, got: Set[Long] @unchecked) =>
        val want = reachable(seeds)
        if (got != want) Some(s"closure has ${got.size} nodes, BFS ${want.size}") else None
      case got: Map[Long, _] @unchecked if rec.kind.startsWith("pagerank") =>
        val want = expectedRanks
        val off = want.count { case (v, p) =>
          got.get(v).forall(g => math.abs(g.asInstanceOf[Double] - p) > 1.5e-6) }
        if (got.size != want.size || off > 0)
          Some(s"pagerank: ${got.size} nodes vs ${want.size}, $off ranks off") else None
      case got: Map[Long, _] @unchecked =>
        if (got != expectedComponents)
          Some(s"components: ${got.size} nodes vs ${expectedComponents.size}") else None
      case got: Set[Long] @unchecked =>
        val want = dupGroups.map(_.min).toSet
        if (got != want) Some(s"${got.size} survivors, planted groups give ${want.size}") else None
    }
    bad.map(b => s"op ${rec.i} (${rec.kind}): $b")
  }

  override def layers(recs: Seq[Rec]): Map[String, Double] = {
    val withRounds = recs.flatMap { r =>
      val n = r.kind match {
        case "pagerank_driver" => Some((PageRankIters, 0))
        case "dedup_cc" => None // union-find on the driver: no rounds
        case _ => rounds.get(r.i)
      }
      n.filter(_._1 > 0).map(x => (r, x._1, x._2))
    }
    Map(
      "rel.rounds" -> Main.mean(withRounds.map(_._2.toDouble)),
      "rel.round_ms" -> Main.median(withRounds.map { case (r, n, _) => r.ms / n }),
      "rel.jobs_per_round" -> Main.median(withRounds.map { case (r, n, _) =>
        r.layer.getOrElse("jobs", 0.0) / n }),
      "rel.distributed_rounds" -> Main.mean(recs.filter(_.kind.startsWith("closure"))
        .map(r => rounds.get(r.i).fold(0.0)(_._2.toDouble))),
      "pipeline.stage_ms.minhash_survivors" -> Main.median(recs.filter(_.kind == "dedup_cc").map(_.ms)),
      // pairs the banded minhash finds, against the planted near-duplicate
      // pairs (every pair inside a group; unrelated documents share no
      // 3-word shingle in practice)
      "pipeline.pair_yield" -> pairYield())
  }

  /** Runs after the window, and releases its pins before the leak count. */
  private def pairYield(): Double = {
    val pairs = Dedup.minhashPairs(docs, threshold = 0.5)
    val n = pairs.count()
    pairs.unpinAll()
    n.toDouble / dupGroups.map(g => g.size * (g.size - 1) / 2).sum
  }
}

object Fixpoint {
  val Users = 1000
  val ChainLen = 6
  val SkipEdges = 800
  val CrossEdges = 800
  val BlockChains = 2
  val Nodes: Int = Users * ChainLen
  val SeedNodes = 20
  val PageRankIters = 3
  val Damping = 0.85

  def id(user: Int, pos: Int): Long = user.toLong * ChainLen + pos + 1

  val BaseDocs = 300
  val Replicas = 2
  val PlantEvery = 10
  val VocabSize = 3000

  /** The near-dup corpus: `BaseDocs` documents of 30 to 60 words from a
    * generated vocabulary, every `PlantEvery`-th a copy of an earlier one
    * with its last word replaced, replicated `Replicas` times with
    * shifted ids (the load multiplier graft.BenchScale uses). Returns the
    * (doc_id, text) rows and the near-duplicate groups. */
  def corpus(r: java.util.SplittableRandom): (Seq[(Long, String)], Seq[Seq[Long]]) = {
    val vocab = Array.fill(VocabSize)(
      Iterator.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString)
    val base = mutable.ArrayBuffer.empty[String]
    val copyOf = mutable.Map.empty[Int, Int]
    for (i <- 0 until BaseDocs) {
      if (i % PlantEvery == PlantEvery - 1) {
        val src = r.nextInt(i)
        val words = base(src).split(" ")
        words(words.length - 1) = "zz" + vocab(r.nextInt(VocabSize))
        base += words.mkString(" ")
        copyOf(i) = src
      } else base += Seq.fill(30 + r.nextInt(30))(vocab(r.nextInt(VocabSize))).mkString(" ")
    }
    def docId(k: Int, i: Int): Long = k.toLong * BaseDocs + i
    def root(i: Int): Int = copyOf.get(i).map(root).getOrElse(i)
    val rows = for (k <- 0 until Replicas; i <- 0 until BaseDocs) yield docId(k, i) -> base(i)
    val groups = (0 until BaseDocs).groupBy(root).values.toSeq.map(members =>
      for (k <- 0 until Replicas; i <- members) yield docId(k, i))
    (rows, groups)
  }
}
