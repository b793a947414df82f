package graft

import graft.api.GraphOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.api.GraphOps — fixed-point PageRank against a driver-side
  * reference of the same integer recurrence, triangle counting against
  * known graphs and against a naive orientation (orientation
  * independence), degree stats against hand counts. */
class GraphSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def edgeDf(es: Seq[(Long, Long)]): DataFrame = {
    val s = spark; import s.implicits._
    es.toDF("src", "dst")
  }

  // posture-comparison tests assert properties OF THE LOOP (broadcast
  // vs shuffle label frames), so they force it with withLoopPosture —
  // GraphLocalParitySpec covers local-vs-loop equivalence separately
  import TestSpark.withLoopPosture

  /** Driver-side replica of pagerankMass's integer recurrence. */
  private def prReference(es: Seq[(Long, Long)], iters: Int,
      massScale: Long = 1000000000000L, dampPct: Long = 85L): Map[Long, Long] = {
    val e = es.filter(p => p._1 != p._2).distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val outdeg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = nodes.size.toLong
    val teleport = (massScale * (100L - dampPct) / 100L) / n
    var mass = nodes.map(_ -> massScale / n).toMap
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._2).map { case (dst, ins) =>
        dst -> ins.map { case (src, _) =>
          (mass(src) * dampPct / 100L) / outdeg(src)
        }.sum
      }
      mass = nodes.map(v => v -> (teleport + in.getOrElse(v, 0L))).toMap
    }
    mass
  }

  test("labelPropagation: weighted votes, min-label ties, directed-duplicate merge") {
    val s = spark; import s.implicits._
    // triangle 1-2-3 (w=5 each side) + pendant 4 on 3 (w=1); edge 1→2
    // split across both directions (3+2) to prove the symmetric merge.
    // Hand rounds: r1 = (2,1,1,3) — node 1 ties {2:5, 3:5} → min 2,
    // node 3's max vote is the {1:5, 2:5} tie → 1; r2 = all 1s (the
    // triangle converges and drags the pendant along).
    val edges = Seq((1L, 2L, 3L), (2L, 1L, 2L), (1L, 3L, 5L),
      (2L, 3L, 5L), (3L, 4L, 1L)).toDF("src", "dst", "w")
    val r1 = GraphOps.labelPropagation(edges, "src", "dst", "w", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L))
    val r2 = GraphOps.labelPropagation(edges, "src", "dst", "w", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("modularity matches the hand formula; one-community partition scores 0") {
    val s = spark; import s.implicits._
    // same graph as the LPA test: sym weights 1-2:5, 1-3:5, 2-3:5,
    // 3-4:1 → W = 32; partition {1,2} vs {3,4}: e = 10/2 (both dirs),
    // a = 20/12 → each contrib = −5/64 = −0.078125 exactly
    val edges = Seq((1L, 2L, 3L), (2L, 1L, 2L), (1L, 3L, 5L),
      (2L, 3L, 5L), (3L, 4L, 1L)).toDF("src", "dst", "w")
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L))
      .toDF("node", "lbl")
    val r = GraphOps.modularity(edges, "src", "dst", "w", labels)
      .orderBy("community").collect()
      .map(x => (x.getAs[Long]("community"), x.getAs[Long]("n_nodes"),
        x.getAs[Long]("e_in"), x.getAs[Long]("a_deg"),
        x.getAs[Double]("contrib")))
    assert(r.toSeq == Seq((10L, 2L, 10L, 20L, -0.078125),
      (20L, 2L, 2L, 12L, -0.078125)))
    val one = Seq((1L, 7L), (2L, 7L), (3L, 7L), (4L, 7L)).toDF("node", "lbl")
    val q = GraphOps.modularity(edges, "src", "dst", "w", one).collect()
    assert(q.length == 1 && q(0).getAs[Double]("contrib") == 0.0)
  }

  test("pagerankMass matches the driver-side integer recurrence on a hub graph") {
    // 1,2,3 all point at 4; 4 points back at 1 — rank concentrates on 4
    val es = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 1L), (1L, 2L))
    val got = GraphOps.pagerankMass(edgeDf(es), "src", "dst", iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = prReference(es, iters = 6)
    assert(got == want)
    // the hub outranks the spokes, and every node keeps >= teleport mass
    assert(got(4L) > got(2L) && got(4L) > got(3L))
    val teleport = (1000000000000L * 15L / 100L) / 4L
    got.values.foreach(m => assert(m >= teleport))
    // conservation: floor losses only ever REMOVE mass
    assert(got.values.sum <= 1000000000000L)
  }

  test("pagerankMass is posture-independent: broadcast and shuffle mass agree") {
    withLoopPosture {
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 2L), (4L, 1L), (1L, 4L))
    val b = GraphOps.pagerankMass(edgeDf(es), "src", "dst", iters = 4,
      broadcastMass = true).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val sh = GraphOps.pagerankMass(edgeDf(es), "src", "dst", iters = 4,
      broadcastMass = false).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(b == sh)
    }
  }

  test("trianglesPerNode: K4 has 3 per node, a path has none, directed dups collapse") {
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b) // directed K4
    val got = GraphOps.trianglesPerNode(edgeDf(k4), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val got2 = GraphOps.trianglesPerNode(edgeDf(path), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2.values.forall(_ == 0L) && got2.size == 4)
  }

  test("trianglesPerNode degree orientation equals naive id orientation") {
    // deterministic pseudo-random graph with a skewed hub (node 0)
    val es = (1L to 40L).map(i => (0L, i)) ++
      (1L to 120L).map { i => (i % 37L + 1L, (i * 31L) % 41L + 2L) }
    val df = edgeDf(es)
    val got = GraphOps.trianglesPerNode(df, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // naive: id-oriented closure over the undirected simple graph
    val und = es.flatMap { case (a, b) => if (a == b) None
      else Some((math.min(a, b), math.max(a, b))) }.distinct.toSet
    val nodes = und.flatMap(p => Seq(p._1, p._2))
    val naive = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for ((a, b) <- und; (b2, c) <- und if b2 == b && und.contains((a, c))) {
      naive(a) += 1; naive(b) += 1; naive(c) += 1
    }
    val want = nodes.map(v => v -> naive(v)).toMap
    assert(got == want)
  }

  test("bfsDistances: hop counts on a path + unreached sentinel, postures agree") {
    withLoopPosture {
    val s = spark; import s.implicits._
    // directed path 1->2->3->4 plus isolated pair 9->10 (unreached)
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L))
    val src = Seq(1L).toDF("node")
    val got = GraphOps.bfsDistances(edgeDf(es), "src", "dst", src, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 9L -> -1L, 10L -> -1L))
    // maxHops truncation is part of the contract: 2 hops cannot reach 4
    val got2 = GraphOps.bfsDistances(edgeDf(es), "src", "dst", src, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2(4L) == -1L && got2(3L) == 2L)
    val sh = GraphOps.bfsDistances(edgeDf(es), "src", "dst", src, maxHops = 4,
      broadcastDist = false).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh == got)
    // duplicate rows in `sources` must not duplicate dist rows (the
    // r20 ADVICE hazard, closed with the same internal distinct as
    // weightedDistances): dist₀ is nodes LEFT-join src
    val dup = GraphOps.bfsDistances(edgeDf(es), "src", "dst",
        Seq(1L, 1L, 1L).toDF("node"), maxHops = 4)
      .collect()
    assert(dup.length == 6 &&
      dup.map(r => r.getLong(0) -> r.getLong(1)).toMap == got,
      s"duplicate source rows broke the one-row-per-node invariant: ${dup.toSeq}")
    }
  }

  test("degreeStats hand graph") {
    val s = spark; import s.implicits._
    val e = Seq((1L, 2L, 10L), (1L, 3L, 5L), (2L, 3L, 7L)).toDF("src", "dst", "w")
    val got = GraphOps.degreeStats(e, "src", "dst", "w")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == Map(
      1L -> (2L, 0L, 15L, 0L),
      2L -> (1L, 1L, 7L, 10L),
      3L -> (0L, 2L, 0L, 12L)))
  }

  test("clusteringCoefficient: triangle with a pendant, hand values") {
    // triangle 1-2-3 plus pendant edge 3-4: cc(1)=cc(2)=1 (their whole
    // neighborhood is the closed triangle), cc(3)=2·1/(3·2)=1/3,
    // cc(4)=0 (deg<2 — no wedge to close)
    val e = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (2L, 1L)))
    val got = GraphOps.clusteringCoefficient(e, "src", "dst")
      .collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("deg"), r.getAs[Long]("n_tri"),
          r.getAs[Double]("local_cc")))).toMap
    assert(got(1L) == ((2L, 1L, 1.0)))
    assert(got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L)._1 == 3L && got(3L)._2 == 1L &&
      math.abs(got(3L)._3 - 1.0 / 3.0) < 1e-4)
    assert(got(4L) == ((1L, 0L, 0.0)))
  }

  test("kcoreMembers peels a tail off a K4, cascading") {
    // K4 on 1-4 plus a tail 4-5-6: round 1 drops 6 (deg 1) AND 5
    // (deg 2 < 3) — parallel peeling — leaving the K4 as the 3-core
    // with every surviving degree 3
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    val got = GraphOps.kcoreMembers(edgeDf(es), "src", "dst",
        k = 3, rounds = 4)
      .collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("in_kcore"), r.getAs[Long]("kcore_deg")))).toMap
    assert(got.size == 6)
    Seq(1L, 2L, 3L, 4L).foreach(n => assert(got(n) == ((1L, 3L))))
    Seq(5L, 6L).foreach(n => assert(got(n) == ((0L, 0L))))
  }

  test("kcoreMembers: cascade needs its rounds, and postures agree") {
    withLoopPosture {
    // path 1-2-3-4-5 with k=2: round 1 peels the endpoints (1, 5),
    // leaving edges 2-3, 3-4; round 2 peels 2 and 4, and with them
    // every remaining edge — the empty (correct) 2-core. An undersized
    // 1-round budget leaves {2,3,4} standing: exactly the bounded-peel
    // semantics the scaladoc defines
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    def survivors(rounds: Int) = GraphOps.kcoreMembers(edgeDf(path),
        "src", "dst", k = 2, rounds = rounds)
      .collect().map(_.getAs[Long]("in_kcore")).sum
    assert(survivors(1) == 3L)
    assert(survivors(2) == 0L)
    assert(survivors(3) == 0L) // stationary from round 2 on
    // shuffle posture is bit-identical to the broadcast default
    val a = GraphOps.kcoreMembers(edgeDf(path), "src", "dst",
        k = 2, rounds = 3, broadcastKeep = false)
      .orderBy("node").collect().toSeq
    val b = GraphOps.kcoreMembers(edgeDf(path), "src", "dst",
        k = 2, rounds = 3)
      .orderBy("node").collect().toSeq
    assert(a == b)
    }
  }

  test("harmonicCentrality matches hand values on a path graph") {
    // path 1-2-3: H(2) = 1/1 + 1/1 = 2; H(1) = H(3) = 1 + 1/2 = 1.5
    val got = GraphOps.harmonicCentrality(
        edgeDf(Seq((1L, 2L), (2L, 3L))), "src", "dst", maxHops = 4)
      .collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("n_reached"), r.getAs[Double]("harmonic")))).toMap
    assert(got(2L) == ((2L, 2.0)))
    assert(got(1L) == ((2L, 1.5)) && got(3L) == ((2L, 1.5)))
    // an undersized 1-hop budget only sees direct neighbors
    val one = GraphOps.harmonicCentrality(
        edgeDf(Seq((1L, 2L), (2L, 3L))), "src", "dst", maxHops = 1)
      .collect().map(r => r.getAs[Long]("node") ->
        r.getAs[Long]("n_reached")).toMap
    assert(one(1L) == 1L && one(2L) == 2L && one(3L) == 1L)
  }

  test("graph_closeness_centrality is hop-stationary inside the 4-hop budget") {
    val s = TestSpark.spark
    val d = "/root/testdata/sf0.001"
    val four = graft.operators.Graphs.queries("graph_closeness_centrality")(s, d)
      .collect().toSeq
    val six = graft.operators.Graphs.closenessAtHops(s, d, 6)
      .collect().toSeq
    assert(four == six && four.nonEmpty)
  }

  test("weightedDistances: min-plus on a hand graph where cheap routes beat direct edges") {
    withLoopPosture {
    // 1—2 cost 10 direct, but 1—3—2 costs 1+2=3; node 4 isolated-by-
    // direction is still reached through the symmetric fold; node 5
    // absent from the source's component emits -1
    val s = TestSpark.spark
    import s.implicits._
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 2L),
      (2L, 4L, 5L), (5L, 6L, 1L)).toDF("src", "dst", "w")
    val src = Seq(1L).toDF("node")
    val got = graft.api.GraphOps.weightedDistances(edges, "src", "dst", "w",
        src, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 3L, 3L -> 1L, 4L -> 8L, 5L -> -1L, 6L -> -1L),
      s"weighted distances wrong: $got")
    // posture parity: the shuffle-dist variant must agree exactly
    val shuf = graft.api.GraphOps.weightedDistances(edges, "src", "dst", "w",
        src, rounds = 4, broadcastDist = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuf == got, "broadcast and shuffle postures disagree")
    // duplicate rows in `sources` must not duplicate dist rows: dist₀
    // is nodes LEFT-join src, so without the internal distinct a
    // twice-listed source would double its row and every round after
    val dup = graft.api.GraphOps.weightedDistances(edges, "src", "dst", "w",
        Seq(1L, 1L, 1L).toDF("node"), rounds = 4)
      .collect()
    assert(dup.length == 6 && dup.map(r => r.getLong(0) -> r.getLong(1)).toMap == got,
      s"duplicate source rows broke the one-row-per-node invariant: ${dup.toSeq}")
    }
  }

  test("graph_weighted_paths is round-stationary inside the 6-round budget") {
    // the declared key (rounds = 6) must match a 9-round relaxation of
    // the same trade graph — proves the budget is past the fixture
    // family's weighted diameter (a dedicated probe measured
    // convergence after 4 rounds at sf0.001, 2 at sf0.01/0.1)
    val s = TestSpark.spark
    val d = "/root/testdata/sf0.001"
    val six = graft.operators.Graphs.queries("graph_weighted_paths")(s, d)
      .collect().toSeq
    val nine = graft.operators.Graphs.weightedPathsAtRounds(s, d, 9)
      .collect().toSeq
    assert(six == nine && six.nonEmpty)
  }

  test("graph_kcore fixture peel is stationary inside the 6-round budget") {
    // the declared key (rounds = 6) must match a 9-round peel of the
    // same trade graph — proves the budget covers the fixture's depth
    val s = TestSpark.spark
    val d = "/root/testdata/sf0.001"
    val six = graft.operators.Graphs.queries("graph_kcore")(s, d)
      .collect().toSeq
    val nine = graft.operators.Graphs.kcoreAtRounds(s, d, 9)
      .collect().toSeq
    assert(six == nine && six.nonEmpty)
  }
}
