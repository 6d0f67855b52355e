package graft.ops

import graft.{QueryDef, Tables}
import graft.Materialize.pin
import graft.core.Substrate
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over near-duplicate pairs → canonical-document
  * assignment (✚ extension: the clustering step a production dedup run
  * applies AFTER pair generation — pairs alone don't dedup a corpus;
  * `keep iff doc_id == canonical_id` does).
  *
  * Algorithm (r14): CONTRACTION with PATH-COMPRESSED merge maps — the
  * relational form of union-find with path compression. Each outer
  * round, in supernode (= current-label) space:
  *   1. merge map — every supernode points at min({itself} ∪ neighbors)
  *      (one min-aggregation over the contracted edge table); movers
  *      only, so the map is a strictly-decreasing functional graph;
  *   2. path compression — the map is composed with itself (T ← T∘T)
  *      to its FIXPOINT: ⌈log₂ chain⌉ self-joins of a supernode-sized,
  *      round-over-round SHRINKING table, with a semi-join emptiness
  *      probe ("is any target still a source?") between compositions;
  *   3. apply — node labels rewrite through the compressed map (the
  *      one corpus-sized join of the round) and the edge table
  *      contracts through it (loops dropped, dedup'd).
  * Converged when the contracted edge table is empty — every component
  * is one supernode, necessarily its minimum id.
  *
  * Why not the previous hop+jump loop (min-label propagation with a
  * pointer jump): its jump is a NO-OP precisely when labels point at
  * plateau minima (l(l(v)) = l(v)), so progress falls back to one edge
  * per round across plateau boundaries — O(diameter) rounds, measured
  * 60+ non-converging rounds on a 485-edge path-like Euclidean MST
  * (q358); the 3–4-round dup graphs it grew up on never exposed this.
  * Contraction merges every id-basin with at least one neighbor basin
  * per round (basins halve: O(log n) outer rounds), and compression
  * collapses monotone merge CHAINS (the shape that defeats one-step
  * contraction on an id-ordered path) in log cost on the small map.
  *
  * Scale: the corpus-sized tables are touched ONCE per round (one
  * label join keyed by 8-byte ids) — the full edge table is shuffled
  * only in round 1, after which the contracted table tracks the
  * component count, not the corpus. A mass-duplicate cluster is a hot
  * key only in the min-agg, where partial aggregation collapses it
  * map-side. Alternative with the same bound: alternating large-star/
  * small-star (Kiveris et al., MapReduce CC) — more rounds in
  * practice, same contraction idea.
  *
  * Durability: every per-round pin is `graft.Materialize.pin`, a
  * reliable checkpoint when the session has a checkpoint dir (so an
  * executor loss in round 12 does not restart the whole iteration) and
  * a local one otherwise; ComponentsSpec runs both and compares.
  */
object Components {

  /** Labels each node with the minimum node id of its connected
    * component. `nodes`: one column `id` (must cover every vertex,
    * including isolated ones); `pairs`: columns `id_a`, `id_b`
    * (undirected, need not be deduplicated). Returns (`node`, `lbl`). */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          maxIter: Int = 25): DataFrame = {
    var labels = pin(
      nodes.select(col("id").as("node"), col("id").as("lbl")))
    // contracted edge table in supernode (current-label) space:
    // symmetric, loop-free, dedup'd; round 1 sees the raw edges
    var e = pin(
      pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
        .where(col("u") =!= col("v")).distinct())
    var iter = 0
    var converged = e.limit(1).count() == 0L
    while (!converged && iter < maxIter) {
      // 1. merge map: every supernode → min({itself} ∪ neighbors);
      // movers only, so the map is a strictly-decreasing function
      var t = pin(e.groupBy("u").agg(min(col("v")).as("m"))
        .select(col("u").as("s"), least(col("u"), col("m")).as("t"))
        .where(col("s") =!= col("t")))
      // 2. path-compress T to its fixpoint (T ← T∘T, log₂(chain)
      // compositions of a supernode-sized table).
      t = compressMap(t)
      // 3. apply: rewrite node labels (the round's one corpus-sized
      // join) and contract the edge table through the compressed map
      labels = pin(labels
        .join(t.select(col("s").as("lbl"), col("t")), Seq("lbl"), "left")
        .select(col("node"), coalesce(col("t"), col("lbl")).as("lbl")))
      e = pin(e
        .join(t.select(col("s").as("u"), col("t").as("tu")), Seq("u"), "left")
        .join(t.select(col("s").as("v"), col("t").as("tv")), Seq("v"), "left")
        .select(coalesce(col("tu"), col("u")).as("u"),
          coalesce(col("tv"), col("v")).as("v"))
        .where(col("u") =!= col("v")).distinct())
      converged = e.limit(1).count() == 0L
      iter += 1
    }
    require(converged,
      s"connectedComponents: not converged after $maxIter rounds")
    labels
  }

  /** Path-compress an ACYCLIC functional map `(s, t)` to its fixpoint:
    * T ← T∘T until no target is still a source — ⌈log₂ max chain⌉
    * self-joins of the (small, typically component-count-sized) map,
    * each probe a semi-join limit-1. Shared by [[connectedComponents]]'
    * strictly-decreasing merge maps and [[boruvkaMst]]'s 2-cycle-broken
    * pseudo-forest. */
  private def compressMap(t0: DataFrame): DataFrame = {
    var t = t0
    var comp = 0
    while (t.select(col("t").as("s")).join(t, Seq("s"), "left_semi")
             .limit(1).count() > 0L) {
      require(comp < 64, "compressMap: no fixpoint in 64 squarings — " +
        "impossible for an acyclic functional map; " +
        "indicates a corrupt edge table")
      t = pin(t.as("a")
        .join(t.select(col("s").as("cs"), col("t").as("ct")),
          col("a.t") === col("cs"), "left")
        .select(col("a.s").as("s"), coalesce(col("ct"), col("a.t")).as("t")))
      comp += 1
    }
    t
  }

  /** Corpus dedup clustering: verified near-dup pairs (the q51 plan) →
    * connected components → every document labeled with its canonical
    * (minimum) doc_id and its cluster size. Survivor set = rows where
    * doc_id == canonical_id. */
  def dedupClusters(docs: DataFrame, pairs: Option[DataFrame] = None): DataFrame = {
    val lab = connectedComponents(
      docs.select(col("doc_id").as("id")),
      pairs.getOrElse(Dedup.dedupPipeline(docs))
        .select("id_a", "id_b"))
    val sizes = lab.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    lab.join(sizes, "lbl")
      .select(col("node").as("doc_id"), col("lbl").as("canonical_id"),
        col("cluster_size"))
  }

  /** Cluster canonicalization (✚): after [[dedupClusters]], each
    * cluster elects ONE representative — the longest member (n_chars,
    * doc_id tiebreak) — and every member points at it. This is the
    * step that turns a clustering into an actual dedup decision: keep
    * is_rep rows, or reweight members toward their representative.
    *
    * The election is a struct-max aggregation keyed by cluster id —
    * partial aggregation collapses each cluster map-side (no window
    * over clusters, no per-group array; a mass-duplicated cluster is
    * exactly the hot key partial-agg absorbs). The representative
    * table then joins back on the 8-byte cluster key. */
  def canonicalize(docs: DataFrame,
                   pairs: Option[DataFrame] = None): DataFrame = {
    val clusters = pin(dedupClusters(docs, pairs))
    val withLen = clusters
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
    val rep = withLen.groupBy("canonical_id")
      .agg(max(struct(col("n_chars").as("len"),
                      (-col("doc_id")).as("negid"))).as("m"))
      .select(col("canonical_id"), (-col("m.negid")).as("rep_id"))
    withLen.join(rep, "canonical_id")
      .select(col("doc_id"), col("rep_id"),
        (col("doc_id") === col("rep_id")).as("is_rep"), col("cluster_size"))
  }

  /** PageRank over an undirected pair graph (✚ the second classic
    * iterative graph operator after CC — on the near-dup graph it
    * scores how CENTRAL a document is within its duplication
    * neighborhood, the importance signal canonical-selection can weight
    * beyond min-id). Power iteration with uniform teleport and dangling
    * redistribution:
    *   s'(v) = 0.15/N + 0.85 · (Σ_{u→v} s(u)/deg(u) + D/N),
    * D = Σ over dangling nodes of s — a fixed `iters` rounds from the
    * uniform start (the gate's oracle unrolls the same rounds as
    * generated CTEs, so both engines execute the identical arithmetic;
    * scores round to 6 dp — cross-engine double sums differ at ~1e-15,
    * far below the rounding).
    *
    * Scale: per round, the same 3-shuffle shape as CC — score⋈edges on
    * u, contribution sum keyed by v, dangling anti-join — every key an
    * 8-byte id; the dangling mass is a 1-row broadcast, N a driver
    * literal (corpus-independent size). Each round's scores go through
    * `pin` (two consumers: contribution join + dangling sum). */
  def pageRank(nodes: DataFrame, pairs: DataFrame, iters: Int = 5,
               weightCol: Option[String] = None): DataFrame = {
    // weighted form: s(u) splits over out-edges ∝ edge weight (here the
    // verified jaccard — a strong near-dup tie carries more centrality
    // than a borderline one); w = 1.0 recovers the classic uniform
    // split bit-exactly (score·1.0/Σ1.0 ≡ score/deg in IEEE terms)
    val w = weightCol.map(col).getOrElse(lit(1.0)).as("w")
    val edges = pin(
      pairs.select(col("id_a").as("u"), col("id_b").as("v"), w)
        .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v"), w)))
    // deg and the node base are probed EVERY round (contrib join,
    // dangling anti-join, final attach) — pin them once or each of the
    // 5 rounds re-runs the degree aggregation and the node scan
    val deg = pin(
      edges.groupBy("u").agg(sum(col("w")).as("deg")))
    val base = pin(nodes.select(col("id").as("node")))
    val n = base.count().toDouble
    var scores = pin(base.withColumn("score", lit(1.0 / n)))
    for (_ <- 1 to iters) {
      val contrib = scores
        .join(edges, scores("node") === edges("u"))
        .join(deg, "u")
        .select(col("v").as("node"), (col("score") * col("w") / col("deg")).as("c"))
        .groupBy("node").agg(sum(col("c")).as("inc"))
      val dangling = scores
        .join(deg.select(col("u").as("node")), Seq("node"), "left_anti")
        .agg(coalesce(sum(col("score")), lit(0.0)).as("dm"))
      scores = pin(base
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit(0.15) / n + lit(0.85) *
            (coalesce(col("inc"), lit(0.0)) + col("dm") / n)).as("score")))
    }
    scores.select(col("node").as("doc_id"), round(col("score"), 6).as("score"))
  }

  /** Per-source dedup report (✚ the executive summary a pipeline owner
    * reads after a dedup run): for each source, its document count, how
    * many survive canonical-only dedup (doc_id == canonical_id), and
    * the survival rate. Composes dedupClusters — same labels as q74.
    *
    * Scale: one join of the label table against a 2-column corpus
    * projection keyed by 8-byte doc_id, then a ≤ #sources-key
    * aggregation with map-side combine. Rate rounded to 6 dp for
    * cross-engine determinism (same rationale as mixtureWeights). */
  def dedupReport(docs: DataFrame, pairs: Option[DataFrame] = None): DataFrame =
    dedupClusters(docs, pairs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("canonical_id"), 1L).otherwise(0L))
          .as("n_survivors"))
      .withColumn("survival_rate",
        round(col("n_survivors").cast("double") / col("n_docs"), 6))

  // The q90 oracle unrolls the power iteration as generated CTE levels
  // (DuckDB recursive CTEs cannot aggregate over the recursive table),
  // so both engines execute the same per-round arithmetic. Every
  // generated CTE is AS MATERIALIZED: DuckDB inlines plain CTEs, and
  // inlining an iteration chain re-evaluates each level once per
  // reference — exponential re-execution over the unroll (measured:
  // >10 min inlined vs 0.5 s materialized at sf0.01).
  private def prOracleSql(iters: Int, weighted: Boolean = false): String = {
    val contribution = if (weighted) "SUM(p.score * e.w / g.deg)" else "SUM(p.score / g.deg)"
    val levels = (0 until iters).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT COALESCE(SUM(score), 0) AS dm FROM p$k
         |  WHERE node NOT IN (SELECT u FROM deg)),
         |p${k + 1} AS MATERIALIZED (
         |  SELECT n.node,
         |    0.15 / (SELECT n FROM cnt) + 0.85 *
         |      (COALESCE(i.s, 0) + (SELECT dm FROM d$k) / (SELECT n FROM cnt)) AS score
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.v AS node, $contribution AS s
         |    FROM p$k p JOIN edges e ON e.u = p.node JOIN deg g ON g.u = p.node
         |    GROUP BY e.v) i ON i.node = n.node)""".stripMargin
    }.mkString(",\n")
    val edgesCte = if (weighted)
      """edges AS MATERIALIZED (SELECT id_a AS u, id_b AS v, jaccard AS w FROM vp
        |          UNION ALL SELECT id_b, id_a, jaccard FROM vp),
        |deg AS MATERIALIZED (SELECT u, SUM(w) AS deg
        |       FROM edges GROUP BY u),""".stripMargin
    else
      """edges AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM vp
        |          UNION ALL SELECT id_b, id_a FROM vp),
        |deg AS MATERIALIZED (SELECT u, CAST(COUNT(*) AS DOUBLE) AS deg
        |       FROM edges GROUP BY u),""".stripMargin
    s"""WITH ${Dedup.verifiedPairsCtes},
       |nodes AS MATERIALIZED (SELECT doc_id AS node FROM documents),
       |cnt AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
       |$edgesCte
       |p0 AS MATERIALIZED (
       |  SELECT node, 1.0 / (SELECT n FROM cnt) AS score FROM nodes),
       |$levels
       |SELECT node AS doc_id, ROUND(score, 6) AS score FROM p$iters
       |ORDER BY doc_id""".stripMargin
  }

  /** Synchronous label propagation (✚ community detection — the dense-
    * neighborhood complement of [[connectedComponents]]: CC answers
    * "reachable?", LPA answers "which cluster does the weight of your
    * ties put you in", splitting a weakly-bridged component where CC
    * cannot). Each round every node adopts the most frequent label
    * among its neighbors; classic async LPA is nondeterministic, so
    * this is the SYNC variant with a total tie order — (max count,
    * then MIN label) — and a fixed `iters` rounds, making the result a
    * pure function of the graph that the oracle unrolls level by level
    * (all-integer arithmetic: zero float parity risk).
    *
    * Scale: per round the CC hop shape exactly — one equality join on
    * the symmetrized edges, one (node, label) count whose partial
    * aggregation collapses heavy labels map-side, one argmin via
    * min(struct) (no window, no per-node sort). Labels go through
    * `pin` per round (two consumers + lineage truncation). */
  def labelPropagation(nodes: DataFrame, pairs: DataFrame, iters: Int = 4): DataFrame = {
    val edges = pin(
      pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
        .where(col("u") =!= col("v")).distinct())
    val base = pin(nodes.select(col("id").as("node")))
    var labels = pin(base.withColumn("lbl", col("node")))
    for (_ <- 1 to iters) {
      val votes = labels
        .join(edges, labels("node") === edges("u"))
        .groupBy(col("v").as("node2"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val pick = votes
        .groupBy(col("node2").as("node"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l")))
          .getField("l").as("next"))
      // labels always carries exactly base's node set, so joining base
      // back in would be an identity join — pick attaches directly
      labels = pin(labels
        .join(pick, Seq("node"), "left")
        .select(col("node"), coalesce(col("next"), col("lbl")).as("lbl")))
    }
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "lbl")
      .select(col("node").as("doc_id"), col("lbl").as("community"),
        col("community_size"))
  }

  /** Multi-source BFS hop distance: synchronous rounds of edge
    * relaxation from every node satisfying `seed` (a predicate over
    * the renamed `node` column). Per round: one equi-join of the
    * current distance table with the symmetrized edge list and one
    * min-aggregate — 8-byte keys only, iterate-materialize pinned
    * lineage (the CC/LPA discipline). `rounds` bounds the explored
    * radius; unreached nodes keep the 999 sentinel. */
  def bfsHops(nodes: DataFrame, pairs: DataFrame, seed: org.apache.spark.sql.Column,
      rounds: Int = 4): DataFrame = {
    val edges = pin(
      pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
        .where(col("u") =!= col("v")).distinct())
    var dist = pin(nodes.select(col("id").as("node"))
      .withColumn("dist", when(seed, lit(0L)).otherwise(lit(999L))))
    for (_ <- 1 to rounds) {
      val relax = dist.join(edges, dist("node") === edges("u"))
        .groupBy(col("v").as("node2"))
        .agg(min(col("dist") + lit(1L)).as("via"))
      dist = pin(dist.join(relax, dist("node") === col("node2"), "left")
        .select(col("node"),
          least(col("dist"), coalesce(col("via"), lit(999L))).as("dist")))
    }
    dist
  }

  // The q112 oracle unrolls the same sync rounds (AS MATERIALIZED per
  // the q90 lesson); ROW_NUMBER (c DESC, lbl ASC) = min(struct(-c, lbl)).
  /** The LPA CTE chain (everything through `l\$iters`) — shared
    * verbatim by the q112 oracle and q370's modularity readout, so the
    * two gates cannot disagree on what a community is. */
  private def lpaChainSql(iters: Int): String = {
    val levels = (1 to iters).map { k =>
      s"""v$k AS MATERIALIZED (
         |  SELECT e.v AS node, l.lbl, COUNT(*) AS c
         |  FROM l${k - 1} l JOIN edges e ON e.u = l.node
         |  GROUP BY 1, 2),
         |p$k AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |      ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
         |    FROM v$k) t
         |  WHERE rn = 1),
         |l$k AS MATERIALIZED (
         |  SELECT l.node, COALESCE(p.lbl, l.lbl) AS lbl
         |  FROM l${k - 1} l LEFT JOIN p$k p ON p.node = l.node)""".stripMargin
    }.mkString(",\n")
    s"""${Dedup.verifiedPairsCtes},
       |nodes AS MATERIALIZED (SELECT doc_id AS node FROM documents),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT id_a AS u, id_b AS v FROM vp WHERE id_a <> id_b
       |    UNION ALL SELECT id_b, id_a FROM vp WHERE id_a <> id_b) e),
       |l0 AS MATERIALIZED (SELECT node, node AS lbl FROM nodes),
       |$levels""".stripMargin
  }

  private def lpaOracleSql(iters: Int): String =
    s"""WITH ${lpaChainSql(iters)},
       |cs AS (SELECT lbl, COUNT(*) AS community_size FROM l$iters GROUP BY lbl)
       |SELECT l.node AS doc_id, l.lbl AS community, cs.community_size
       |FROM l$iters l JOIN cs ON cs.lbl = l.lbl
       |ORDER BY doc_id""".stripMargin

  /** Newman modularity of a node partition (q370's engine) over an
    * undirected pair graph: per community its node count, internal
    * edge count, degree mass, and contribution q_c = e_c/m − (d_c/2m)²
    * — plus the graph total as a constant column, computed from the
    * EXACT Σd_c² decimal moment rather than a sum of per-community
    * doubles. One edge pass for degrees, one labeled-both-ends join
    * for e_c, community-keyed aggregates after that. */
  def modularity(communities: DataFrame, pairs: DataFrame): DataFrame = {
    val lab = pin(communities.select(col("doc_id").as("node"),
      col("community")))
    val und = pin(pairs.where(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .distinct())
    val mm = und.agg(count(lit(1)).as("m"))
    val com = lab.groupBy("community").agg(count(lit(1)).as("n_nodes"))
    val ein = und
      .join(lab.select(col("node").as("u"), col("community").as("ca")), "u")
      .join(lab.select(col("node").as("v"), col("community").as("cb")), "v")
      .where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_in"))
    val deg = und.select(col("u").as("node"))
      .unionByName(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("dg"))
    val dc = deg.join(lab, "node").groupBy("community")
      .agg(sum(col("dg")).as("d_tot"))
    val per = com
      .join(ein, Seq("community"), "left")
      .join(dc, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        coalesce(col("d_tot"), lit(0L)).as("d_tot"))
    val tot = per.agg(
      sum(col("e_in")).cast("double").as("se"),
      sum(col("d_tot").cast("decimal(38,0)") * col("d_tot")).cast("double")
        .as("sd2"))
    val mD = col("m").cast("double")
    // m = 0 (an edge-free partition) emits NULL instead of NaN/Inf —
    // conductance's degenerate-denominator convention (ADVICE r15):
    // visible, and identical NULL propagation on both engines
    per.crossJoin(broadcast(mm)).crossJoin(broadcast(tot))
      .select(col("community"), col("n_nodes"), col("e_in"), col("d_tot"),
        when(col("m") > 0,
          round(col("e_in").cast("double") / mD
            - (col("d_tot").cast("double") / (lit(2.0) * mD))
              * (col("d_tot").cast("double") / (lit(2.0) * mD)), 6)).as("q_c"),
        when(col("m") > 0,
          round(col("se") / mD
            - col("sd2") / ((lit(2.0) * mD) * (lit(2.0) * mD)), 6))
          .as("modularity"))
      .orderBy("community")
  }

  /** q372's oracle: the k-truss peel unrolled `rounds` times — per
    * round q98's id-ordered triangle join over the current edge set,
    * per-edge support from the three unnested canonical edges, filter
    * at k−2; the final support pass feeds the output. Converged rounds
    * are no-ops. */
  private def kTrussSql(k: Int, rounds: Int): String = {
    def supCte(r: Int): String =
      s"""t$r AS (SELECT e1.a, e1.b, e2.b AS c
         |        FROM e$r e1 JOIN e$r e2 ON e2.a = e1.b
         |        JOIN e$r e3 ON e3.a = e1.a AND e3.b = e2.b),
         |s$r AS (SELECT a, b, COUNT(*) AS sup FROM (
         |          SELECT a, b FROM t$r
         |          UNION ALL SELECT a, c FROM t$r
         |          UNION ALL SELECT b, c FROM t$r) u
         |        GROUP BY 1, 2)""".stripMargin
    val roundCtes = (0 until rounds).map { r =>
      s"""${supCte(r)},
         |e${r + 1} AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e$r e JOIN s$r s ON s.a = e.a AND s.b = e.b
         |  WHERE s.sup >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.verifiedPairsCtes},
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(id_a, id_b) AS a, GREATEST(id_a, id_b) AS b
       |  FROM vp WHERE id_a <> id_b),
       |$roundCtes,
       |${supCte(rounds)}
       |SELECT e.a AS id_a, e.b AS id_b, s.sup AS support
       |FROM e$rounds e JOIN s$rounds s ON s.a = e.a AND s.b = e.b
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Community conductance (q371's engine): per community its cut-edge
    * count (each cross-community edge charges BOTH sides), degree
    * volume, and φ_c = cut/min(vol, 2m − vol); NULL where the
    * denominator degenerates. Same relational shape as [[modularity]]
    * — one edge pass, community-keyed aggregates. */
  def conductance(communities: DataFrame, pairs: DataFrame): DataFrame = {
    val lab = pin(communities.select(col("doc_id").as("node"),
      col("community")))
    val und = pin(pairs.where(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .distinct())
    val mm = und.agg(count(lit(1)).as("m"))
    val com = lab.groupBy("community").agg(count(lit(1)).as("n_nodes"))
    val lbe = und
      .join(lab.select(col("node").as("u"), col("community").as("ca")), "u")
      .join(lab.select(col("node").as("v"), col("community").as("cb")), "v")
      .where(col("ca") =!= col("cb"))
    val cut = lbe.select(col("ca").as("community"))
      .unionByName(lbe.select(col("cb").as("community")))
      .groupBy("community").agg(count(lit(1)).as("cut_edges"))
    val deg = und.select(col("u").as("node"))
      .unionByName(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("dg"))
    val dc = deg.join(lab, "node").groupBy("community")
      .agg(sum(col("dg")).as("volume"))
    val denom = least(col("volume"), lit(2L) * col("m") - col("volume"))
    com.join(cut, Seq("community"), "left")
      .join(dc, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("cut_edges"), lit(0L)).as("cut_edges"),
        coalesce(col("volume"), lit(0L)).as("volume"))
      .crossJoin(broadcast(mm))
      .select(col("community"), col("n_nodes"), col("cut_edges"),
        col("volume"),
        when(denom > 0, round(col("cut_edges").cast("double") /
          denom.cast("double"), 6)).as("phi"))
      .orderBy("community")
  }

  /** Exact triangle count over an undirected pair graph (✚ the third
    * classic graph kernel after CC/PageRank — triangle density is the
    * standard cluster-cohesion audit over a near-dup graph: duplicate
    * groups are near-cliques, chains of borderline matches are not).
    *
    * DEGREE-ORDERED orientation (Cohen's MapReduce triangle counting /
    * node-iterator++): every edge points from its (degree, id)-smaller
    * endpoint, each triangle then has exactly ONE vertex with both
    * out-edges, so it is found once — and a vertex's out-degree is
    * bounded by O(√m) regardless of its raw degree, which turns the
    * hot-hub d² wedge blowup into the provably-optimal O(m^1.5) total.
    * A raw id-orientation would leave a low-id hub with out-degree d
    * and a single d²-wedge task at 100 TB; the degree sort is exactly
    * what removes that skew.
    *
    * Three content-free shuffles: the degree aggregation (8-byte keys,
    * partial-agg collapses hubs map-side), the wedge self-join on the
    * oriented source, and the closing probe of the id-canonical edge
    * set. `canon`/`oriented` feed two consumers each and are pinned via
    * `pin` (the Dedup/CC diamond discipline). */
  def triangles(pairs: DataFrame): DataFrame = {
    val canon = pin(pairs
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .where(col("a") =!= col("b")).distinct())
    // deg feeds TWO join consumers (the da and db attachments) — pin it
    // like canon/oriented or the union+aggregation lineage runs twice
    val deg = pin(canon.select(col("a").as("id"))
      .unionAll(canon.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("dg")))
    val oriented = pin(canon
      .join(deg.select(col("id").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("dg").as("db")), "b")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("f"), col("b").as("t")))
        .otherwise(struct(col("b").as("f"), col("a").as("t"))).as("o"))
      .select(col("o.f").as("f"), col("o.t").as("t")))
    // out-neighbor pairs of each source, id-sorted to meet the
    // id-canonical edge set exactly once
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.f") === col("e2.f") && col("e1.t") < col("e2.t"))
      .select(col("e1.t").as("a"), col("e2.t").as("b"))
    val nt = wedges.join(canon, Seq("a", "b"))
      .agg(count(lit(1)).as("n_triangles"))
    canon.agg(count(lit(1)).as("n_edges")).crossJoin(nt)
  }

  /** k-TRUSS decomposition at a fixed k (✚ — Cohen 2008, the standard
    * cohesion refinement beyond triangles/k-core: keep only edges
    * participating in ≥ k−2 triangles, iterating until stable, so the
    * surviving subgraph is the k-truss; on a near-dup graph it strips
    * borderline-match chains and keeps the clique-like duplicate
    * cores).
    *
    * SUPPORT-DECREMENT peel (r16, VERDICT r15 #4 — the Wang/Cheng 2012
    * truss-decomposition shape): triangles are enumerated ONCE over
    * the initial edge set with the degree-ordered oriented wedge join
    * of [[triangles]] (hub out-degree O(√m) ⇒ O(m^1.5), paid once);
    * each peel round then joins only the REMOVED edges against the
    * current adjacency — O(|removed| · deg) instead of a full
    * re-enumeration — and decrements the supports of each destroyed
    * triangle's surviving edges. When several edges of one triangle
    * are removed in the same round, the triangle is CHARGED to its
    * lexicographically-smallest removed edge only, so every destroyed
    * triangle decrements each surviving edge exactly once (the
    * inclusion-exclusion a naive per-removed-edge walk gets wrong).
    * A deep cascade therefore costs the initial enumeration plus work
    * proportional to the edges actually peeled — sub-linear in rounds
    * — where the old per-round re-enumeration paid O(m^1.5) per ring.
    * Converges when a round removes nothing; `maxIter` is a hard
    * failure, not a truncation. Returns the truss edges with their
    * final supports (Batch25Spec pins the multi-round cascade against
    * the re-enumerating oracle on a handcrafted fan-plus-clique). */
  def kTruss(pairs: DataFrame, k: Int, maxIter: Int = 20): DataFrame = {
    require(k >= 3, s"kTruss needs k >= 3 (got $k)")
    val e0 = pin(pairs
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .where(col("a") =!= col("b")).distinct())
    // one-off full enumeration: initial per-edge support, with
    // triangle-less edges kept at 0 so the peel filter can see them
    val deg = pin(e0.select(col("a").as("id"))
      .unionAll(e0.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("dg")))
    val oriented = e0
      .join(deg.select(col("id").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("dg").as("db")), "b")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("f"), col("b").as("t")))
        .otherwise(struct(col("b").as("f"), col("a").as("t"))).as("o"))
      .select(col("o.f").as("f"), col("o.t").as("t"))
    val tri0 = oriented.as("e1").join(oriented.as("e2"),
        col("e1.f") === col("e2.f") && col("e1.t") < col("e2.t"))
      .select(col("e1.t").as("a"), col("e2.t").as("b"), col("e1.f").as("c"))
      .join(e0, Seq("a", "b"))
    val triEdges = tri0.select(col("a"), col("b"))
      .unionAll(tri0.select(least(col("a"), col("c")).as("a"),
        greatest(col("a"), col("c")).as("b")))
      .unionAll(tri0.select(least(col("b"), col("c")).as("a"),
        greatest(col("b"), col("c")).as("b")))
    val counted = triEdges.groupBy("a", "b").agg(count(lit(1)).as("support"))
    // (a, b, support) — THE loop state; edges are its key set
    var sup = pin(e0.join(counted, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support")))
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val removed = pin(sup.where(col("support") < k - 2)
        .select(col("a"), col("b")))
      if (removed.limit(1).count() == 0L) done = true
      else {
        // triangles containing a removed edge (u,v): common neighbors w
        // with (u,w) and (v,w) still in the round's edge set — the join
        // fans out from REMOVED edges only, never re-enumerating
        val adj = sup.select(col("a").as("x"), col("b").as("w"))
          .unionAll(sup.select(col("b").as("x"), col("a").as("w")))
        val cand = removed.select(col("a").as("u"), col("b").as("v"))
          .join(adj, col("u") === col("x"))
          .where(col("w") =!= col("v"))
          .select(col("u"), col("v"),
            least(col("v"), col("w")).as("e2a"),
            greatest(col("v"), col("w")).as("e2b"),
            least(col("u"), col("w")).as("e1a"),
            greatest(col("u"), col("w")).as("e1b"))
        val tri = cand.join(
          sup.select(col("a").as("e2a"), col("b").as("e2b")),
          Seq("e2a", "e2b"), "left_semi")
        // charge each destroyed triangle to its SMALLEST removed edge:
        // drop the row if either other edge is removed AND orders
        // before (u,v) — then decrement only the SURVIVING other edges
        val rm1 = removed.select(col("a").as("e1a"), col("b").as("e1b"),
          lit(true).as("r1"))
        val rm2 = removed.select(col("a").as("e2a"), col("b").as("e2b"),
          lit(true).as("r2"))
        val marked = tri
          .join(rm1, Seq("e1a", "e1b"), "left")
          .join(rm2, Seq("e2a", "e2b"), "left")
          .select(col("u"), col("v"), col("e1a"), col("e1b"),
            col("e2a"), col("e2b"),
            coalesce(col("r1"), lit(false)).as("r1"),
            coalesce(col("r2"), lit(false)).as("r2"))
        val me = struct(col("u"), col("v"))
        val charged = marked.where(
          !(col("r1") && struct(col("e1a"), col("e1b")) < me) &&
          !(col("r2") && struct(col("e2a"), col("e2b")) < me))
        val dec = charged.where(!col("r1"))
            .select(col("e1a").as("a"), col("e1b").as("b"))
          .unionAll(charged.where(!col("r2"))
            .select(col("e2a").as("a"), col("e2b").as("b")))
          .groupBy("a", "b").agg(count(lit(1)).as("dec"))
        sup = pin(sup
          .join(removed, Seq("a", "b"), "left_anti")
          .join(dec, Seq("a", "b"), "left")
          .select(col("a"), col("b"),
            (col("support") - coalesce(col("dec"), lit(0L))).as("support")))
      }
      iter += 1
    }
    require(done, s"kTruss: not converged after $maxIter rounds")
    sup.select(col("a").as("id_a"), col("b").as("id_b"), col("support"))
      .orderBy("id_a", "id_b")
  }

  /** Per-node clustering coefficient (✚): 2·t(v) / (d(v)·(d(v)−1)),
    * the local cohesion score behind [[triangles]]'s global count —
    * over a near-dup graph it separates genuine duplicate groups
    * (near-cliques, coeff → 1) from chains of borderline matches
    * (coeff → 0), per NODE rather than per corpus.
    *
    * Same degree-ordered oriented wedge join as [[triangles]] (hub
    * out-degree O(√m), total O(m^1.5)), except each closed triangle
    * keeps its three vertex ids and explodes them — one count row per
    * (triangle, vertex), aggregated on the 8-byte id. Degrees come
    * from the already-pinned `deg` table; the final join is keyed by
    * id. The coefficient divides exact integers, so both engines
    * compute the identical double. */
  def clusteringCoefficient(pairs: DataFrame): DataFrame = {
    val canon = pin(pairs
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .where(col("a") =!= col("b")).distinct())
    val deg = pin(canon.select(col("a").as("id"))
      .unionAll(canon.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("dg")))
    val oriented = pin(canon
      .join(deg.select(col("id").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("dg").as("db")), "b")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("f"), col("b").as("t")))
        .otherwise(struct(col("b").as("f"), col("a").as("t"))).as("o"))
      .select(col("o.f").as("f"), col("o.t").as("t")))
    val closed = oriented.as("e1").join(oriented.as("e2"),
        col("e1.f") === col("e2.f") && col("e1.t") < col("e2.t"))
      .select(col("e1.f").as("v"), col("e1.t").as("a"), col("e2.t").as("b"))
      .join(canon, Seq("a", "b"))
    val tri = closed
      .select(explode(array(col("v"), col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    deg.join(tri, Seq("id"), "left")
      .select(col("id"), col("dg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(when(col("dg") >= 2,
            lit(2) * coalesce(col("n_tri"), lit(0L)) /
              (col("dg") * (col("dg") - 1)).cast("double"))
          .otherwise(lit(0.0)), 6).as("coeff"))
  }

  /** k-core decomposition by iterative peel (✚): repeatedly drop
    * nodes with degree < k until stable. Over a near-dup graph the
    * 2-core separates cyclically-confirmed duplicate groups from
    * pendant chains of one-off borderline matches — the standard
    * graph-density filter before trusting a cluster.
    *
    * Runs a FIXED `rounds` of peeling (the q112 LPA discipline: a
    * pure function of the graph, oracle unrolled round by round;
    * ComponentsSpec asserts the gate corpus converges within the
    * budget so the fixed unroll IS the fixpoint). Each round is one
    * degree aggregation (8-byte keys, map-side combine collapses
    * hubs) and two semi-joins of the edge list against the surviving
    * ids — the iterate-materialize shape shared with CC/PageRank;
    * rounds are bounded, never corpus-sized state. */
  def kCore(pairs: DataFrame, k: Int = 2, rounds: Int = 4): DataFrame = {
    var edges = pin(pairs
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .where(col("u") =!= col("v")).distinct()
      .select(explode(array(struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")).distinct())
    for (_ <- 1 to rounds) {
      val alive = edges.groupBy("u").agg(count(lit(1)).as("dg"))
        .where(col("dg") >= k).select("u")
      edges = pin(edges
        .join(alive, "u")
        .join(alive.select(col("u").as("v")), "v"))
    }
    edges.groupBy("u").agg(count(lit(1)).as("dg"))
      .select(col("u").as("id"), col("dg"))
  }

  /** Grid-blocked DBSCAN over 2-D points (`id`, `x`, `y`): returns
    * (`id`, `role` ∈ core|border|noise, `cluster` — the MIN core id of
    * the cluster, −1 for noise). ε-pairs come from a cell-width-ε grid
    * self-join (every true pair is at most one cell apart, each pair
    * generated once); cores = points with ≥ minPts−1 ε-neighbors;
    * clusters = [[connectedComponents]] over core-core edges; borders
    * adopt the minimum neighboring core label. Squared distance is
    * rounded @9 before the ε² cut (oracle-parity; pass ε² as an exact
    * literal, not eps*eps). DbscanSpec certifies the grid blocking
    * against the brute-force n² definition.
    *
    * Requires `minPts >= 2`: cores are derived from the ε-PAIRS table,
    * so an isolated point (zero ε-neighbors) never appears there and
    * could not be marked core even though `minPts <= 1` would make
    * every point core by definition. */
  /** Directed ε-pair table (`ia`, `ib`, `w` = round(d², 9) ≤ eps2) over
    * 2-D points (`id`, `x`, `y`) from a cell-width-ε grid self-join:
    * every true pair is at most one cell apart, each DIRECTED pair is
    * generated exactly once (so each undirected pair appears in both
    * directions). The blocked shape every ε-neighborhood operator here
    * shares — [[dbscan]] consumes it for degree counting, and
    * [[hdbscanClusters]] takes the a<b half as its weighted edge set —
    * and the reason none of them is an all-pairs join at scale. */
  def gridEpsPairs(pts0: DataFrame, eps: Double, eps2: Double): DataFrame =
    gridEpsPairsWithPts(pts0, eps, eps2)._2

  /** [[gridEpsPairs]] plus the PINNED point frame it built the grid
    * over — callers that scan the point set again ([[dbscan]]'s noise
    * anti-joins) read the checkpoint instead of re-executing the
    * caller's upstream lineage (ADVICE r14). */
  private[ops] def gridEpsPairsWithPts(pts0: DataFrame, eps: Double,
      eps2: Double)
      : (DataFrame, DataFrame) = {
    val pts = pin(pts0
      .withColumn("cx", floor(col("x") / eps).cast("long"))
      .withColumn("cy", floor(col("y") / eps).cast("long")))
    val offs = array((for { dx <- -1 to 1; dy <- -1 to 1 } yield
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
    val probe = pts.select(col("id").as("ib"), col("x").as("xb"),
        col("y").as("yb"), col("cx").as("bx"), col("cy").as("by"),
        explode(offs).as("o"))
      .select(col("ib"), col("xb"), col("yb"),
        (col("bx") + col("o.dx")).as("gx"), (col("by") + col("o.dy")).as("gy"))
    val pairs = pts
      .join(probe, col("cx") === col("gx") && col("cy") === col("gy")
        && col("id") =!= col("ib"))
      .withColumn("w", round((col("x") - col("xb")) * (col("x") - col("xb"))
        + (col("y") - col("yb")) * (col("y") - col("yb")), 9))
      .where(col("w") <= eps2)
      .select(col("id").as("ia"), col("ib"), col("w"))
    (pts, pairs)
  }

  /** Mutual-reachability edge set over a 2-D point frame (`id`, `x`,
    * `y`) — the distance HDBSCAN proper builds its MST on (Campello/
    * Moulavi/Sander 2013): per-point CORE distance core_k(p) = the
    * (minPts−1)-th smallest candidate distance (squared, round@9 like
    * every ε operator here), edge weight
    *
    *   d_mreach(a, b) = max(core_k(a), core_k(b), d²(a, b))
    *
    * so sparse regions are pushed apart by their own low density and a
    * thin chain of stragglers can no longer single-link two dense blobs
    * (the q358-vs-q360 semantic difference, pinned by HdbscanSpec).
    * Candidates come from the shared grid ε-join ([[gridEpsPairs]] —
    * for the 2-D slice the grid IS the kNN candidate generator); in
    * high dimensions the same construction rides the q91 kNN-graph
    * machinery instead, which is the 100 TB path. Points with fewer
    * than minPts−1 candidates have NO core distance and drop out
    * entirely — they are noise at every density, per the definition.
    *
    * Scale: one grid join (never all-pairs), one window pass keyed by
    * point id for the k-th smallest (shuffle ∝ candidate pairs), two
    * key joins to attach cores. Deterministic: ties in w don't affect
    * the SELECTED VALUE (row_number breaks them, but equal w is equal
    * core). */
  def mutualReachEdges(pts: DataFrame, eps: Double, eps2: Double,
      minPts: Int): DataFrame =
    mutualReachEdgesFrom(gridEpsPairs(pts, eps, eps2), minPts)

  /** [[mutualReachEdges]] over an ALREADY-BUILT directed candidate
    * pair table (`ia`, `ib`, `w`) — the readout half, split out so the
    * shared eps-pairs substrate can feed the q360/q364 build without
    * re-running the grid join (r17). */
  private[ops] def mutualReachEdgesFrom(pairs0: DataFrame, minPts: Int): DataFrame = {
    require(minPts >= 2, s"mutualReachEdges requires minPts >= 2 (got $minPts)")
    val pairs = pin(pairs0)
    val wspec = org.apache.spark.sql.expressions.Window
      .partitionBy("ia").orderBy("w", "ib")
    val core = pin(pairs
      .withColumn("rn", row_number().over(wspec))
      .where(col("rn") === minPts - 1)
      .select(col("ia").as("id"), col("w").as("core")))
    pairs.where(col("ia") < col("ib"))
      .join(core.select(col("id").as("ia"), col("core").as("ca")), "ia")
      .join(core.select(col("id").as("ib"), col("core").as("cb")), "ib")
      .select(col("ia").as("a"), col("ib").as("b"),
        greatest(col("w"), col("ca"), col("cb")).as("w"))
  }

  def dbscan(pts0: DataFrame, eps: Double, eps2: Double, minPts: Int): DataFrame = {
    require(minPts >= 2,
      s"dbscan requires minPts >= 2 (got $minPts): cores derive from the " +
        "pairs table, so zero-neighbor points can never be core")
    val (pts, rawPairs) = gridEpsPairsWithPts(pts0, eps, eps2)
    val pairs = pin(rawPairs.select("ia", "ib"))
    val core = pin(pairs.groupBy(col("ia").as("id"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minPts - 1).select("id"))
    val coreEdges = pairs
      .join(core.select(col("id").as("ia")), "ia")
      .join(core.select(col("id").as("ib")), "ib")
      .where(col("ia") < col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"))
    val lab = connectedComponents(core, coreEdges)
    val coreOut = core.join(lab, col("id") === col("node"))
      .select(col("id"), lit("core").as("role"), col("lbl").as("cluster"))
    val bord = pairs
      .join(core.select(col("id").as("ia")), Seq("ia"), "left_anti")
      .join(lab.select(col("node").as("ib"), col("lbl")), "ib")
      .groupBy(col("ia").as("id"))
      .agg(min(col("lbl")).as("cluster"))
      .select(col("id"), lit("border").as("role"), col("cluster"))
    // anti-join base is the PINNED grid frame, not the raw input —
    // pts0's upstream lineage would otherwise re-execute twice here
    // (ADVICE r14); same rows by construction (the grid adds columns,
    // never drops ids)
    val noise = pts.select("id")
      .join(coreOut.select("id"), Seq("id"), "left_anti")
      .join(bord.select("id"), Seq("id"), "left_anti")
      .select(col("id"), lit("noise").as("role"), lit(-1L).as("cluster"))
    coreOut.unionByName(bord).unionByName(noise)
  }

  /** Borůvka minimum-spanning-forest. `nodes`: column `id` (covers
    * every vertex incl. isolated); `edges0`: (`a`, `b`, `w`) with
    * a < b, one row per undirected edge. Returns per component
    * (`root` — its minimum node id, `n_nodes`, `n_edges`, `mst_w` —
    * exact DECIMAL sum of the chosen weights, surfaced as double).
    *
    * The classic O(log n)-round distributed MST: each round every
    * component selects its minimum OUTGOING edge — min over the
    * lexicographic key (w, a, b), globally unique, which makes the
    * component-level merge graph a pseudo-forest whose cycles are all
    * 2-cycles — then merged groups collapse by breaking each 2-cycle
    * toward its min and path-compressing the remaining acyclic
    * functional forest ([[compressMap]] on the tiny, ≤|components|-row
    * map; r14 — this was a full CC invocation per round), and labels
    * rewrite through the merge. Rounds halve the component count at
    * worst, so ⌈log₂ n⌉ merging rounds plus one empty probe always
    * suffice for n nodes; running out of them is a hard failure, not a
    * silent truncation. With tied weights the specific tree can differ
    * between algorithms, but every MST of a graph has the same
    * per-component weight multiset, so n_edges/mst_w are
    * algorithm-independent — which is what lets an unrolled Prim
    * serve as the q348 oracle.
    *
    * Scale: per round the big table (edges) shuffles twice (label
    * attach per endpoint) and aggregates map-side to ≤|components|
    * rows; the merge-graph CC and the relabel join ride component-id
    * keys. Nothing is ever driver-side except the loop counter. */
  def boruvkaMstForest(nodes: DataFrame, edges0: DataFrame): DataFrame = {
    val (mst, labels) = boruvkaMst(nodes, edges0)
    mstForestStats(mst, labels)
  }

  /** Per-component forest stats from precomputed Borůvka artifacts. */
  private def mstForestStats(mst: DataFrame, labels: DataFrame): DataFrame = {
    val eStats = mst
      .join(labels.select(col("node").as("a"), col("comp")), "a")
      .groupBy("comp")
      .agg(count(lit(1)).as("n_edges"),
        sum(col("w").cast("decimal(28,9)")).as("wsum"))
    labels.groupBy("comp").agg(count(lit(1)).as("n_nodes"))
      .join(eStats, Seq("comp"), "left")
      .select(col("comp").as("root"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("wsum").cast("double"), lit(0.0)).as("mst_w"))
  }

  /** The verified near-dup pair table and its LPA communities — the
    * input of the whole near-dup graph-gate family, so candidate
    * generation, verification and one LPA run happen once per (JVM,
    * corpus) instead of once per gate. Artifacts:
    *  - `pairs` (id_a, id_b, jaccard): the q51 pipeline's exact output;
    *  - `lpa` (doc_id, community, community_size): [[labelPropagation]]'s
    *    default 4 rounds over the PERSISTED pairs, read back rather than
    *    lineage so both artifacts are views of one pair set.
    * Deterministic: LSH bands and exact Jaccard are exact arithmetic,
    * and LPA's (max count, min label) tie order is total. */
  lazy val DupPairs: Substrate = Substrate("dup_pairs") { (s, dir, out) =>
    val docs = Tables.documents(s, dir)
    Dedup.dedupPipeline(docs)
      .write.mode("overwrite").parquet(out + "/pairs.parquet")
    labelPropagation(docs.select(col("doc_id").as("id")),
        s.read.parquet(out + "/pairs.parquet").select("id_a", "id_b"))
      .write.mode("overwrite").parquet(out + "/lpa.parquet")
  }

  /** The near-dup-graph MST for q348/q353: one Borůvka election over
    * [[DupPairs]] feeds both the forest-stats and dendrogram readouts.
    * Artifacts `mst` (a, b, w) and `labels` (node, comp); the (w, a, b)
    * min key makes the elected MST and min-id labels unique. */
  lazy val DupMst: Substrate = Substrate("dup_mst", Seq(DupPairs)) {
    (s, dir, out) =>
      val edges = dupPairs(s, dir)
        .groupBy("id_a", "id_b")
        .agg(min(round(lit(1.0) - col("jaccard"), 6)).as("w"))
        .select(col("id_a").as("a"), col("id_b").as("b"), col("w"))
      val (mst, labels) = boruvkaMst(
        Tables.documents(s, dir).select(col("doc_id").as("id")), edges)
      mst.write.mode("overwrite").parquet(out + "/mst.parquet")
      labels.write.mode("overwrite").parquet(out + "/labels.parquet")
  }

  /** The verified near-dup pair table (`id_a`, `id_b`, `jaccard`). */
  private[graft] def dupPairs(s: SparkSession, dir: String): DataFrame =
    DupPairs.read(s, dir, "pairs")

  /** The 4-round LPA communities over [[dupPairs]] (`doc_id`,
    * `community`, `community_size`) — q112's output and q370/q371's
    * partition input. */
  private[graft] def lpaCommunities(s: SparkSession, dir: String): DataFrame =
    DupPairs.read(s, dir, "lpa")

  /** The Borůvka loop itself, returning the raw artifacts —
    * (MST edge set `(a, b, w)`, final labels `(node, comp)`) — for
    * operators that consume the TREE rather than per-component stats:
    * [[boruvkaMstForest]] (stats) and [[singleLinkageCuts]] (dendrogram
    * levels) both build on this. */
  def boruvkaMst(nodes: DataFrame, edges0: DataFrame): (DataFrame, DataFrame) = {
    var labels = pin(nodes.select(col("id").as("node"), col("id").as("comp")))
    // every merging round at least halves the components that still
    // have an outgoing edge: ⌈log₂ n⌉ merging rounds, then the empty probe
    val maxIter = 65 - java.lang.Long.numberOfLeadingZeros(math.max(labels.count(), 1L) - 1)
    // EDGE CONTRACTION (r19 — VERDICT r18 #3, §2.4): the loop used to
    // re-join the FULL original edge table against the current labels
    // every round — 12 corpus-scale scans of a table that is mostly
    // intra-component after the first merges. `rem` carries the CROSS-
    // component remainder forward instead: initialized once from the
    // raw edges (components start as singleton node ids, so ca/cb are
    // just a/b), then relabeled per round through the component-count-
    // sized merge map and re-filtered — a strictly shrinking frame,
    // the same discipline connectedComponents already applies to its
    // contracted edge table. (w, a, b) identities ride along, so the
    // elected MST is unchanged.
    var rem = pin(edges0.select(col("a"), col("b"), col("w"))
      .where(col("a") =!= col("b"))
      .select(col("a"), col("b"), col("w"),
        col("a").as("ca"), col("b").as("cb")))
    val phantom = rem.select(col("a").as("node"))
      .unionByName(rem.select(col("b").as("node")))
      .join(labels, Seq("node"), "left_anti").limit(1).collect()
    require(phantom.isEmpty,
      s"boruvkaMst: edge endpoint ${phantom.head.get(0)} is not a node")
    var chosenParts = List.empty[DataFrame]
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // (w, a, b) is unique per edge, so ca/cb never decide the min —
      // they ride along to avoid a second label join on the winner
      val k = struct(col("w"), col("a"), col("b"), col("ca"), col("cb"))
      // (r19 note: a persist()+count() fusion of this pin and the
      // emptiness probe was tried and MEASURED SLOWER — Dataset.persist
      // caches COLUMNAR with per-read decode, far heavier than the
      // pinned row blocks every consumer below scans. The
      // probe job on pinned blocks is cheap; keep the pin.)
      val minE = pin(rem.select(col("ca").as("c"), k.as("k"))
        .unionByName(rem.select(col("cb").as("c"), k.as("k")))
        .groupBy("c").agg(min(col("k")).as("k")))
      if (minE.limit(1).count() == 0L) done = true
      else {
        // the same edge wins for both endpoints of a 2-cycle: distinct.
        // Lazy on purpose: minE is already pinned, so this projection's
        // lineage is one hop; the distincts of all rounds execute
        // together in the final union's single action instead of
        // costing one micro-job per round.
        chosenParts ::= minE
          .select(col("k.a").as("a"), col("k.b").as("b"), col("k.w").as("w"))
          .distinct()
        // The merge graph c → (other endpoint's component) has
        // out-degree EXACTLY 1 (every c has a min edge), so it is a
        // pseudo-forest — and with the globally-unique (w, a, b) min
        // key, every cycle is a 2-CYCLE (the component pair sharing
        // their mutual minimum edge). That makes a full CC per round
        // unnecessary: break each 2-cycle by redirecting both members
        // to their min, which leaves an acyclic functional forest
        // rooted at the merged groups' minima — resolved by
        // compressMap in log(chain) self-joins of the tiny map (was:
        // a full connectedComponents invocation per Borůvka round,
        // ~2/3 of the gate's micro-job count on the ε-graph MST).
        // f and p stay LAZY (r19 — VERDICT r18 #3): both are one-hop
        // projections/self-joins of the PINNED minE, so re-deriving
        // them inside compressMap's probe/squaring jobs costs a few
        // cached-block scans of a component-count-sized frame — two
        // scheduler-floor materialize jobs per round bought nothing.
        val f = minE.select(col("c").as("s"),
          when(col("k.ca") === col("c"), col("k.cb")).otherwise(col("k.ca"))
            .as("t"))
        val p = f.as("x")
          .join(f.select(col("s").as("ms"), col("t").as("mt")),
            col("x.t") === col("ms"))
          .select(col("x.s").as("s"),
            when(col("mt") === col("x.s"), least(col("x.s"), col("x.t")))
              .otherwise(col("x.t")).as("t"))
          .where(col("s") =!= col("t"))
        val comp = compressMap(p)
        // comp resolves every mover to its group's 2-CYCLE min — which
        // need not be the GROUP min: a tree-hanging component can carry
        // a smaller id than the cycle it merges into, and the labels
        // invariant (comp = min member id, the oracle's root) demands
        // the group min. Remap each compressed root to min(root,
        // members); the root itself relabels too when a member is
        // smaller. (Caught by Batch23Spec's driver-side Kruskal at
        // sf0.001 — sf0.01's dup graph merges pairwise, where cycle
        // min = group min, and hid it.)
        val gm = comp.groupBy(col("t").as("r")).agg(min(col("s")).as("ms"))
          .select(col("r"), least(col("r"), col("ms")).as("m"))
        // pinned: three consumers since the r19 contraction (the labels
        // relabel plus both endpoint relabels of `rem`)
        val merged = pin(comp.join(gm, col("t") === col("r"))
          .select(col("s"), col("m").as("t"))
          .unionByName(gm.where(col("r") =!= col("m"))
            .select(col("r").as("s"), col("m").as("t"))))
        labels = pin(labels
          .join(merged.select(col("s").as("comp"), col("t")), Seq("comp"), "left")
          .select(col("node"), coalesce(col("t"), col("comp")).as("comp")))
        // contract the remainder through the same merge map: relabel
        // both endpoints' components, drop the edges that became
        // intra-component. An edge with ca' = cb' can never re-enter
        // (components only merge), so the filter is safe and `rem`
        // shrinks monotonically.
        rem = pin(rem
          .join(merged.select(col("s").as("ca"), col("t").as("ta")),
            Seq("ca"), "left")
          .join(merged.select(col("s").as("cb"), col("t").as("tb")),
            Seq("cb"), "left")
          .select(col("a"), col("b"), col("w"),
            coalesce(col("ta"), col("ca")).as("ca"),
            coalesce(col("tb"), col("cb")).as("cb"))
          .where(col("ca") =!= col("cb")))
      }
      iter += 1
    }
    require(done, s"boruvkaMst: not converged after $maxIter rounds")
    val mst = chosenParts match {
      case Nil => edges0.select(col("a"), col("b"), col("w")).where(lit(false))
      case ps => ps.reduce(_ unionByName _)
    }
    (mst, labels)
  }

  /** Single-linkage dendrogram levels from an MST forest (the HDBSCAN/
    * SLINK extraction step, and the REASON the Borůvka scaffold exists):
    * cutting the MST at height t and taking components yields EXACTLY
    * the single-linkage clustering at threshold t — the Kruskal
    * invariant (the MST edges with w ≤ t are an MST forest of the full
    * ≤t-subgraph). Returns one row per cut: non-singleton cluster
    * count, docs clustered, largest cluster.
    *
    * All k levels run in ONE level-encoded contraction-CC pass (see
    * [[singleLinkageLabels]] for the encoding and the history: r13's
    * fused k-wide hop+jump loop was replaced in r14 after measuring
    * O(diameter) convergence on path-like Euclidean MSTs) — the
    * per-level micro-job latency (the dominant cost of iterative
    * gates, SCALE.md round 12) is paid once, not k times.
    *
    * Scale: every relation here is tree-bounded (≤ k·(n−1) encoded
    * edges) — k dendrogram levels replicate the TREE, never the
    * original edge set or corpus; the oracle cross-checks with
    * reachability over the FULL ≤t edge set — a different algorithm on
    * a different edge set that must produce the identical partition. */
  def singleLinkageCuts(mstEdges: DataFrame, cuts: Seq[Double],
      maxIter: Int = 25): DataFrame = {
    val ts = cuts.sorted
    val k = ts.length
    val labels = singleLinkageLabels(mstEdges, cuts, maxIter)
    (0 until k).map { j =>
      labels.where(col("nlvl") <= j)
        .groupBy(col(s"l$j")).agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
          max(col("sz")).as("max_size"))
        .select(lit(ts(j)).as("cut"), col("n_clusters"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("max_size"), lit(0L)).as("max_size"))
    }.reduce(_ unionByName _).orderBy("cut")
  }

  /** The per-level label frame behind [[singleLinkageCuts]] and
    * [[hdbscanClusters]]: one row per node incident to some ≤max-cut
    * tree edge, with `nlvl` (first cut index where the node
    * participates) and k label columns `l0..l(k-1)` — the node's
    * single-linkage component label (min member id) at each cut.
    *
    * Computed as ONE LEVEL-ENCODED [[connectedComponents]] run: node
    * replica (node, j) for every level j ≥ nlvl and edge replica for
    * every level j ≥ the edge's activation level, encoded as
    * enc = node·k + j. Levels never connect (both endpoints of every
    * encoded edge share the same j), encoded order within a level IS
    * node order (same j ⇒ enc order = node order), so the component
    * min decodes to the level's min member — and the contraction CC's
    * O(log n) round bound is paid ONCE for all k levels instead of k
    * times (k sequential per-level CC runs measured ~14 s of pure
    * micro-job latency on the sf0.01 ε-MST; this form runs the same
    * data in one loop). Data cost: ≤ k× the TREE (n−1 edges), never
    * k× the corpus.
    *
    * This replaced r13's fused k-wide-label hop+jump loop, whose
    * per-round reach is O(1) edges across label plateaus — O(diameter)
    * rounds on the path-like MSTs Euclidean graphs produce (measured:
    * 60+ rounds, unconverged, on the sf0.001 ε-graph MST; the
    * dup-graph trees it was built on have diameter ≤4). */
  def singleLinkageLabels(mstEdges: DataFrame, cuts: Seq[Double],
      maxIter: Int = 25): DataFrame = {
    require(cuts.nonEmpty, "need at least one cut height")
    val ts = cuts.sorted
    val k = ts.length
    // first cut index where the edge is active (= #cuts below w)
    val lvlExpr = ts.map(t => when(col("w") > t, 1).otherwise(0))
      .reduce(_ + _)
    val e0 = pin(mstEdges.where(col("w") <= ts.last)
      .select(col("a"), col("b"), lvlExpr.as("lvl")))
    // per-node first level of participation: membership at cut j is
    // nlvl ≤ j (a node outside every ≤t edge is a singleton, not a row)
    val nodeLvl = pin(
      e0.select(col("a").as("node"), col("lvl"))
        .unionByName(e0.select(col("b").as("node"), col("lvl")))
        .groupBy("node").agg(min(col("lvl")).as("nlvl")))
    val encNodes = nodeLvl
      .select(col("node"), explode(sequence(col("nlvl"), lit(k - 1))).as("j"))
      .select((col("node") * k + col("j")).as("id"))
    val encEdges = e0
      .select(col("a"), col("b"),
        explode(sequence(col("lvl"), lit(k - 1))).as("j"))
      .select((col("a") * k + col("j")).as("id_a"),
        (col("b") * k + col("j")).as("id_b"))
    val cc = connectedComponents(encNodes, encEdges, maxIter)
    val dec = cc.select((col("node") % k).cast("int").as("j"),
      expr(s"node div $k").as("node"), expr(s"lbl div $k").as("lbl"))
    // pivot back to the k-wide frame in ONE conditional aggregation;
    // labels default to the node's own id at levels below its nlvl
    // (never read — consumers filter nlvl ≤ j — but keeps the frame
    // total)
    val aggs = (0 until k).map(j =>
      max(when(col("j") === j, col("lbl"))).as(s"_j$j"))
    val wide = dec.groupBy("node").agg(aggs.head, aggs.tail: _*)
    nodeLvl.join(wide, Seq("node"), "left")
      .select(col("node") +: col("nlvl") +: (0 until k).map(j =>
        coalesce(col(s"_j$j"), col("node")).as(s"l$j")): _*)
  }

  /** HDBSCAN cluster extraction over a DISCRETE λ grid (✚, the capstone
    * of the Borůvka→single-linkage scaffold — Campello/Moulavi/Sander's
    * condensed-tree stability selection, discretized to the cut ladder
    * so every quantity is exact integer arithmetic both engines
    * reproduce bit-for-bit):
    *
    *  - levels j = 0..k-1 are the ascending cuts `cuts` with exact
    *    integer densities `lambdas(j)` (the caller picks cuts whose
    *    reciprocals are integers; a monotone reparametrization of the
    *    classic λ = 1/d changes stability VALUES, not the tree);
    *  - cluster instances: single-linkage components of the MST at
    *    level j with ≥ `minSize` members (smaller components are noise
    *    at that level, the min-cluster-size rule);
    *  - the CONDENSED tree keeps only true splits: instance (j,c) is a
    *    birth iff j = k-1 (root) or its parent instance at j+1 has ≥ 2
    *    surviving children — a lone surviving child CONTINUES its
    *    parent (noise spill never creates a new cluster);
    *  - stability S(C) = Σ_p (λ_death(p) − λ_birth(C)) in its discrete
    *    Riemann form Σ_{instances (j,c) of C, j < birth} sz_j ·
    *    (λ_j − λ_{j+1}) — exact BIGINT;
    *  - excess-of-mass selection: bottom-up V(C) = max(S(C), Σ V(child));
    *    C is chosen iff S(C) ≥ Σ V(child) (ties prefer the parent, the
    *    reference library's rule), then a top-down pass deselects
    *    descendants of chosen clusters. Roots are selectable (the
    *    allow-single-cluster analog — the forest's roots are real
    *    clusters here, not the all-points pseudo-root).
    *
    * Returns one row per condensed cluster: (`cut` — birth level's cut,
    * `cluster` — min member id at birth, `n_birth`, `stability`,
    * `selected`), ordered by (cut, cluster).
    *
    * Scale: everything after [[singleLinkageLabels]]' one CC pass runs
    * on CLUSTER-count-sized tables (instances ≤ components per level),
    * orders below the corpus; the k-step cid/selection loops are
    * driver-orchestrated joins over those small tables — no collect,
    * no per-point state beyond the label frame the scaffold already
    * carries. */
  /** The shared condensed-tree construction behind [[hdbscanClusters]]
    * and [[gloshScores]]. Returns:
    *  - `labels`: [[singleLinkageLabels]]' k-wide frame (pinned);
    *  - `cida`: every REAL (≥ minSize) cluster instance (j, c, sz) with
    *    its condensed-cluster id (bj, bc);
    *  - `cl`: one row per condensed cluster — (bj, bc, n_birth,
    *    stability, pbj, pbc) with the exact-integer discrete stability
    *    and the condensed parent pointer (null at roots).
    * Algorithm notes at [[hdbscanClusters]]. */
  private[ops] def condensedTree(mstEdges: DataFrame, cuts: Seq[Double],
      lambdas: Seq[Long], minSize: Int, maxIter: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val labels = pin(
      singleLinkageLabels(mstEdges, cuts.sorted, maxIter))
    condensedTreeFromLabels(labels, cuts, lambdas, minSize)
  }

  /** [[condensedTree]] over a PRECOMPUTED (possibly cached) label
    * frame — the shape a production pipeline runs: the single-linkage
    * substrate is built once and read by cluster selection (q358) AND
    * outlier scoring (q359). */
  private[ops] def condensedTreeFromLabels(labels: DataFrame,
      cuts: Seq[Double], lambdas: Seq[Long], minSize: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(cuts.length >= 2 && cuts.length == lambdas.length,
      "need ≥2 cut levels with matching lambdas")
    require(cuts == cuts.sorted && lambdas == lambdas.sorted.reverse,
      "cuts ascend, lambdas (=1/cut) descend")
    val ts = cuts
    val k = ts.length
    val gaps = (0 until k - 1).map(j => lambdas(j) - lambdas(j + 1))
    // cluster instances: (level j, label c = min member, size), real
    // (≥ minSize) only — sub-threshold components are level-j noise
    val inst = (0 until k).map { j =>
      labels.where(col("nlvl") <= j)
        .groupBy(col(s"l$j").as("c")).agg(count(lit(1)).as("sz"))
        .where(col("sz") >= minSize)
        .select(lit(j).as("j"), col("c"), col("sz"))
    }.reduce(_ unionByName _)
    // parent instance label: the level-j+1 label OF THE LABEL NODE c
    // (c is a member; label nesting makes any member's j+1 label THE
    // containing component). Parent is always real: its size dominates.
    val pExpr = (0 until k - 1)
      .map(j => (col("j") === j, col(s"l${j + 1}")))
      .foldLeft(Option.empty[Column]) {
        case (None, (c, v)) => Some(when(c, v))
        case (Some(e), (c, v)) => Some(e.when(c, v))
      }.get
    val withPar = inst
      .join(labels.select(col("node").as("c") +:
        (1 until k).map(j => col(s"l$j")): _*), Seq("c"), "left")
      .select(col("j"), col("c"), col("sz"), pExpr.as("p"))
    val kd = withPar.where(col("j") < k - 1)
      .groupBy((col("j") + 1).as("pj"), col("p").as("pc"))
      .agg(count(lit(1)).as("nk"))
    val born = pin(withPar
      .join(kd, col("pj") === col("j") + 1 && col("pc") === col("p"), "left")
      .select(col("j"), col("c"), col("sz"), col("p"),
        (col("j") === k - 1 || coalesce(col("nk"), lit(0L)) >= 2)
          .as("isborn")))
    // condensed-cluster id (bj, bc) per instance, resolved top-down:
    // a birth is itself; a continuation inherits its parent instance's.
    // The k-level resolution folds LAZILY over the pinned `born` (r19 —
    // VERDICT r18 #4: the per-level materialize cost k scheduler-floor
    // jobs on cluster-count-sized frames); the union pins ONCE as cida.
    var resolved = List(born.where(col("j") === k - 1)
      .select(col("j"), col("c"), col("sz"),
        col("j").as("bj"), col("c").as("bc")))
    for (j <- k - 2 to 0 by -1) {
      val up = resolved.head // level j+1, already resolved
      resolved ::= born.where(col("j") === j)
        .join(up.select(col("c").as("p"), col("bj").as("ubj"),
          col("bc").as("ubc")), Seq("p"), "left")
        .select(col("j"), col("c"), col("sz"),
          when(col("isborn"), lit(j)).otherwise(col("ubj")).as("bj"),
          when(col("isborn"), col("c")).otherwise(col("ubc")).as("bc"))
    }
    val cida = pin(resolved.reduce(_ unionByName _))
    // discrete stability: instances BELOW the birth level contribute
    // sz · gap(j); the birth instance contributes 0 (keeps clusters
    // with no sub-birth presence in the output at S = 0)
    val gapExpr = (0 until k - 1)
      .map(j => (col("j") === j, lit(gaps(j))))
      .foldLeft(Option.empty[Column]) {
        case (None, (c, v)) => Some(when(c, v))
        case (Some(e), (c, v)) => Some(e.when(c, v))
      }.get
    val stab = cida.groupBy("bj", "bc")
      .agg(coalesce(sum(when(col("j") < col("bj"), col("sz") * gapExpr)),
        lit(0L)).as("stability"))
    val birthInst = cida.where(col("j") === col("bj") && col("c") === col("bc"))
      .select(col("bj"), col("bc"), col("sz").as("n_birth"))
    // condensed parent pointer: the cid of the birth instance's parent
    val cl = pin(stab
      .join(birthInst, Seq("bj", "bc"))
      .join(born.where(col("isborn"))
        .select(col("j").as("bj"), col("c").as("bc"), col("p")),
        Seq("bj", "bc"), "left")
      .join(cida.select(col("j").as("upj"), col("c").as("upc"),
        col("bj").as("pbj"), col("bc").as("pbc")),
        col("upj") === col("bj") + 1 && col("upc") === col("p"), "left")
      .select(col("bj"), col("bc"), col("n_birth"), col("stability"),
        col("pbj"), col("pbc")))
    (labels, cida, cl)
  }

  def hdbscanClusters(mstEdges: DataFrame, cuts: Seq[Double],
      lambdas: Seq[Long], minSize: Int, maxIter: Int = 50): DataFrame = {
    val (_, _, cl) =
      condensedTree(mstEdges, cuts, lambdas, minSize, maxIter)
    hdbscanSelection(cl, cuts)
  }

  /** [[hdbscanClusters]] over a precomputed label frame (see
    * [[condensedTreeFromLabels]]). */
  def hdbscanClustersFromLabels(labels: DataFrame, cuts: Seq[Double],
      lambdas: Seq[Long], minSize: Int): DataFrame = {
    val (_, _, cl) =
      condensedTreeFromLabels(labels, cuts, lambdas, minSize)
    hdbscanSelection(cl, cuts)
  }

  private def hdbscanSelection(cl: DataFrame, cuts: Seq[Double]): DataFrame =
    hdbscanReadout(selectionFrame(cl, cuts.length), cl, cuts)

  /** The pure READOUT half of [[hdbscanSelection]] — one keyed join of
    * the (cluster-count-sized) selection frame against the cluster
    * table. Factored out in r18 so q358/q360 can read the cached
    * condensed-tree substrate ([[EpsTree]], [[MrTree]]) instead of
    * re-deriving the selection per gate. */
  private[ops] def hdbscanReadout(sel: DataFrame, cl: DataFrame,
      cuts: Seq[Double]): DataFrame = {
    val ts = cuts
    val k = ts.length
    val cutExpr = (0 until k)
      .map(j => (col("bj") === j, lit(ts(j))))
      .foldLeft(Option.empty[Column]) {
        case (None, (c, v)) => Some(when(c, v))
        case (Some(e), (c, v)) => Some(e.when(c, v))
      }.get
    sel
      .join(cl.select(col("bj"), col("bc"), col("n_birth"), col("stability")),
        Seq("bj", "bc"))
      .select(cutExpr.as("cut"), col("bc").as("cluster"),
        col("n_birth"), col("stability"), col("selected"))
      .orderBy("cut", "cluster")
  }

  /** The per-condensed-cluster selection frame (`bj`, `bc`,
    * `selected`) behind [[hdbscanSelection]] — factored out so q362's
    * soft memberships can resolve each point's SELECTED ancestor
    * without re-deriving the cluster-level readout. */
  private def selectionFrame(cl: DataFrame, k: Int): DataFrame = {
    // Both k-level passes used to materialize PER LEVEL (2k scheduler-
    // floor jobs over cluster-count-sized tables — the dominant cost of
    // the eps_tree/mr_tree builds, VERDICT r18 #4). Each pass now folds
    // LAZILY across its k levels and pins ONCE at the end: the lazy
    // fold's plan references earlier levels ~2^k times, but k is the
    // cut-ladder length (4) and every leaf is the pinned/parquet-backed
    // `cl`, so the plan stays small while 2k jobs become 2.
    // excess-of-mass, bottom-up by birth level: V = max(S, Σ V(child)),
    // chosen iff S ≥ Σ V(child) (children are born strictly lower)
    var vParts = List.empty[DataFrame]
    for (b <- 0 until k) {
      val lvl = cl.where(col("bj") === b)
      val lvlV = vParts.reduceOption(_ unionByName _) match {
        case None =>
          lvl.select(col("bj"), col("bc"), col("stability").as("v"),
            lit(true).as("chosen"))
        case Some(va) =>
          val sv = cl.where(col("pbj") === b)
            .select(col("bj").as("dbj"), col("bc").as("dbc"),
              col("pbj"), col("pbc"))
            .join(va.select(col("bj").as("dbj"), col("bc").as("dbc"),
              col("v")), Seq("dbj", "dbc"))
            .groupBy(col("pbj").as("bj"), col("pbc").as("bc"))
            .agg(sum(col("v")).as("sv"))
          lvl.join(sv, Seq("bj", "bc"), "left")
            .select(col("bj"), col("bc"),
              greatest(col("stability"), coalesce(col("sv"), lit(0L))).as("v"),
              (col("stability") >= coalesce(col("sv"), lit(0L))).as("chosen"))
      }
      vParts ::= lvlV
    }
    // pinned: the top-down pass filters va once per level (k consumers)
    val va = pin(vParts.reduce(_ unionByName _))
    // top-down: selected = chosen ∧ no chosen-unblocked ancestor;
    // blocked(C) = blocked(parent) ∨ chosen(C) propagates the veto
    var sParts = List.empty[DataFrame]
    for (b <- k - 1 to 0 by -1) {
      val lvl = va.where(col("bj") === b)
        .join(cl.select(col("bj"), col("bc"), col("pbj"), col("pbc")),
          Seq("bj", "bc"))
      val lvlS = sParts.reduceOption(_ unionByName _) match {
        case None =>
          lvl.select(col("bj"), col("bc"), col("chosen").as("selected"),
            col("chosen").as("blocked"))
        case Some(sa) =>
          lvl.join(sa.select(col("bj").as("pbj"), col("bc").as("pbc"),
            col("blocked").as("pblocked")), Seq("pbj", "pbc"), "left")
            .select(col("bj"), col("bc"),
              (col("chosen") && !coalesce(col("pblocked"), lit(false)))
                .as("selected"),
              (coalesce(col("pblocked"), lit(false)) || col("chosen"))
                .as("blocked"))
      }
      sParts ::= lvlS
    }
    pin(sParts.reduce(_ unionByName _).select("bj", "bc", "selected"))
  }

  /** GLOSH outlier scores (Campello et al.'s Global-Local Outlier
    * Score from Hierarchies — the outlier readout of the SAME condensed
    * tree [[hdbscanClusters]] selects clusters from), discretized to
    * the cut ladder: for each point p,
    *
    *   GLOSH(p) = 1 − λ_attach(p) / λ_max(subtree of p's cluster)
    *
    * where λ_attach(p) is the density of p's DEEPEST real membership
    * (the lowest level j where p's component has ≥ minSize members —
    * membership is upward-closed in j since component sizes grow with
    * the cut) and λ_max is the deepest density reached anywhere in the
    * subtree of the condensed cluster p attaches to — a point that
    * detaches while its cluster's core keeps densifying scores toward
    * 1 (outlier); a point present at the subtree's deepest level
    * scores exactly 0 (core inlier). Points never in any real cluster
    * (noise at every level) have no attachment and are not scored —
    * the caller sees exactly the clusterable population.
    *
    * Output: (node, cluster — the attachment cid's label, lam_attach,
    * lam_max, glosh_ppm = 10⁶ − (10⁶·λ_attach) div λ_max) — pure
    * integer arithmetic end to end, like q358's stability.
    *
    * Scale: one per-point membership join against the (cluster-count-
    * sized) instance table, a k-pass bottom-up min over the condensed
    * tree, one score join — nothing corpus-sized beyond the label
    * frame the scaffold already carries. */
  def gloshScores(mstEdges: DataFrame, cuts: Seq[Double],
      lambdas: Seq[Long], minSize: Int, maxIter: Int = 50): DataFrame = {
    val (labels, cida, cl) =
      condensedTree(mstEdges, cuts, lambdas, minSize, maxIter)
    gloshBody(labels, cida, cl, cuts.length, lambdas)
  }

  /** [[gloshScores]] over a precomputed label frame (see
    * [[condensedTreeFromLabels]]). */
  def gloshScoresFromLabels(labels: DataFrame, cuts: Seq[Double],
      lambdas: Seq[Long], minSize: Int): DataFrame = {
    val (lab, cida, cl) =
      condensedTreeFromLabels(labels, cuts, lambdas, minSize)
    gloshBody(lab, cida, cl, cuts.length, lambdas)
  }

  /** The discrete λ of a level-index column — `when(c === j,
    * lambdas(j))` chained over the ladder. */
  private def lamCase(lambdas: Seq[Long], c: Column): Column =
    lambdas.zipWithIndex
      .map { case (v, j) => (c === j, lit(v)) }
      .foldLeft(Option.empty[Column]) {
        case (None, (cc, v)) => Some(when(cc, v))
        case (Some(e), (cc, v)) => Some(e.when(cc, v))
      }.get

  /** Per-point attachment: each point's densest (lowest-level) REAL
    * membership — (node, dp — the level, bj/bc — the condensed cluster
    * owning that instance). Shared by GLOSH (q359) and soft
    * memberships (q362). */
  private def attachments(labels: DataFrame, cida: DataFrame,
      k: Int): DataFrame = {
    // per-point real memberships: each level's label joined against the
    // real-instance table (cida rows ARE the real instances)
    val memb = (0 until k).map { j =>
      labels.where(col("nlvl") <= j)
        .select(col("node"), lit(j).as("j"), col(s"l$j").as("c"))
    }.reduce(_ unionByName _)
      .join(cida.select(col("j"), col("c"), col("bj"), col("bc")),
        Seq("j", "c"))
    memb.groupBy("node")
      .agg(min(struct(col("j"), col("bj"), col("bc"))).as("a"))
      .select(col("node"), col("a.j").as("dp"),
        col("a.bj").as("bj"), col("a.bc").as("bc"))
  }

  /** Deepest level reached anywhere in each condensed cluster's
    * SUBTREE — own instances' min, then min over (already-final)
    * children, bottom-up by birth level. Returns (bj, bc, dm). */
  private def subtreeDeepest(cida: DataFrame, cl: DataFrame, k: Int): DataFrame = {
    // `own` is pinned once (the lazy k-level fold below references it
    // ~2^k times; without the pin each reference re-runs the cida
    // aggregation shuffle), then the bottom-up min fold stays LAZY —
    // k per-level materialize jobs dropped (r19, VERDICT r18 #4).
    val own = pin(
      cida.groupBy("bj", "bc").agg(min(col("j")).as("dmin"))
        .join(cl.select(col("bj"), col("bc"), col("pbj"), col("pbc")),
          Seq("bj", "bc")))
    var dmParts = List.empty[DataFrame]
    for (b <- 0 until k) {
      val lvl = own.where(col("bj") === b)
      val lvlDm = dmParts.reduceOption(_ unionByName _) match {
        case None => lvl.select(col("bj"), col("bc"), col("pbj"),
          col("pbc"), col("dmin").as("dm"))
        case Some(prev) =>
          val kidMin = prev.where(col("pbj") === b)
            .groupBy(col("pbj").as("bj"), col("pbc").as("bc"))
            .agg(min(col("dm")).as("kdm"))
          lvl.join(kidMin, Seq("bj", "bc"), "left")
            .select(col("bj"), col("bc"), col("pbj"), col("pbc"),
              least(col("dmin"), coalesce(col("kdm"), col("dmin"))).as("dm"))
      }
      dmParts ::= lvlDm
    }
    dmParts.reduce(_ unionByName _).select("bj", "bc", "dm")
  }

  private def gloshBody(labels: DataFrame, cida: DataFrame, cl: DataFrame,
      k: Int, lambdas: Seq[Long]): DataFrame =
    gloshReadout(attachments(labels, cida, k),
      subtreeDeepest(cida, cl, k), lambdas)

  /** The pure READOUT half of [[gloshBody]] — one keyed join of the
    * per-point attachment frame against the subtree-deepest frame,
    * then integer score algebra. Factored out in r18 so q359 can read
    * the cached condensed-tree substrate ([[EpsTree]], [[MrTree]]). */
  private[ops] def gloshReadout(att: DataFrame, dm: DataFrame,
      lambdas: Seq[Long]): DataFrame =
    att.join(dm, Seq("bj", "bc"))
      .select(col("node"), col("bc").as("cluster"),
        lamCase(lambdas, col("dp")).as("lam_attach"),
        lamCase(lambdas, col("dm")).as("lam_max"))
      .withColumn("glosh_ppm",
        expr("1000000 - (1000000 * lam_attach) div lam_max"))

  /** Soft cluster-membership probabilities (✚ — the `probabilities_`
    * readout of the HDBSCAN framework, discretized to the cut ladder
    * like q358/q359): each clusterable point is assigned to the
    * SELECTED cluster nearest above its attachment (selection is an
    * antichain under the veto, so that ancestor is unique) with
    *
    *   prob(p) = λ_attach(p) / λ_max(subtree of the selected cluster)
    *
    * in exact parts-per-million integers — 10⁶ for a point present at
    * the selected subtree's deepest density, falling toward 0 for
    * points that detach early. Points whose attachment has no selected
    * ancestor (e.g. attached at an unselected root whose children won
    * the excess-of-mass vote) belong to no selected cluster and are
    * not scored — the library's probabilities-are-0-for-noise rule,
    * expressed as absence exactly like q359's unscored never-clustered
    * points.
    *
    * Scale: the selection and ancestor passes are k driver-orchestrated
    * joins over CLUSTER-count-sized tables; the only corpus-sized work
    * is the attachment join the q359 scaffold already pays. */
  def softMembershipsFromLabels(labels0: DataFrame, cuts: Seq[Double],
      lambdas: Seq[Long], minSize: Int): DataFrame = {
    val (labels, cida, cl) =
      condensedTreeFromLabels(labels0, cuts, lambdas, minSize)
    val k = cuts.length
    val sel = selectionFrame(cl, k)
    val sela = selectedAncestors(sel, cl, k)
    val att = attachments(labels, cida, k)
    val dm = subtreeDeepest(cida, cl, k)
    softMembershipReadout(att, sela, dm, lambdas)
  }

  /** Selected ancestor-or-self per condensed cluster, top-down: itself
    * when selected, else the parent's answer (null above roots —
    * clusters with NO selected ancestor are dropped). Returns (bj, bc,
    * abj, abc) on cluster-count-sized tables. Factored out of
    * [[softMembershipsFromLabels]] in r18 so the condensed-tree
    * substrate ([[EpsTree]], [[MrTree]]) can persist it once. */
  private def selectedAncestors(sel: DataFrame, cl: DataFrame, k: Int): DataFrame = {
    var aParts = List.empty[DataFrame]
    for (b <- k - 1 to 0 by -1) {
      val lvl = sel.where(col("bj") === b)
        .join(cl.select(col("bj"), col("bc"), col("pbj"), col("pbc")),
          Seq("bj", "bc"))
      val lvlA = aParts.reduceOption(_ unionByName _) match {
        case None =>
          lvl.select(col("bj"), col("bc"),
            when(col("selected"), col("bj")).as("abj"),
            when(col("selected"), col("bc")).as("abc"))
        case Some(prev) =>
          lvl.join(prev.select(col("bj").as("pbj"), col("bc").as("pbc"),
              col("abj").as("uabj"), col("abc").as("uabc")),
            Seq("pbj", "pbc"), "left")
            .select(col("bj"), col("bc"),
              when(col("selected"), col("bj")).otherwise(col("uabj")).as("abj"),
              when(col("selected"), col("bc")).otherwise(col("uabc")).as("abc"))
      }
      // lazy fold (r19 — VERDICT r18 #4): k per-level materialize jobs
      // dropped; sel/cl are pinned or parquet-backed, k = 4, and the
      // single consumer (one readout join / one substrate write)
      // evaluates the whole fold in its own action.
      aParts ::= lvlA
    }
    aParts.reduce(_ unionByName _).where(col("abj").isNotNull)
  }

  /** The pure READOUT half of [[softMembershipsFromLabels]] — the
    * attachment → selected-ancestor → subtree-deepest join chain plus
    * integer probability algebra, over frames the condensed-tree
    * substrate persists once per (JVM, corpus). */
  private[ops] def softMembershipReadout(att: DataFrame, sela: DataFrame,
      dm: DataFrame, lambdas: Seq[Long]): DataFrame =
    att.join(sela.select(col("bj"), col("bc"), col("abj"), col("abc")),
        Seq("bj", "bc"))
      .join(dm.select(col("bj").as("abj"), col("bc").as("abc"), col("dm")),
        Seq("abj", "abc"))
      .select(col("node"), col("abc").as("cluster"),
        lamCase(lambdas, col("dp")).as("lam_attach"),
        lamCase(lambdas, col("dm")).as("lam_max"))
      .withColumn("prob_ppm", expr("(1000000 * lam_attach) div lam_max"))

  /** The q358/q359 density ladder over squared distance — cut
    * reciprocals are exact integers, so stability and GLOSH are pure
    * BIGINT arithmetic end to end. private[graft] (r18): the
    * substrate-equivalence spec references these rather than
    * mirroring them, so a ladder retune can never desync the spec. */
  private[graft] lazy val HdbCuts = Seq(0.0004, 0.000625, 0.0016, 0.0025)
  private[graft] lazy val HdbLambdas = Seq(2500L, 1600L, 625L, 400L)
  private[graft] lazy val HdbMinSize = 5

  /** The ε-candidate pairs of the slink family: one grid ε-join over the
    * embeddings' 2-D slice feeds both single-linkage elections
    * ([[EpsSlink]], [[MrSlink]]). Artifacts `pairs` (ia, ib, w — both
    * orientations, since the core-distance window needs per-point
    * neighbor lists) and `ids` (id), the frame the Borůvka elections
    * seed from, so neither consumer rescans the embeddings. */
  lazy val EpsPairs: Substrate = Substrate("eps_pairs") { (s, dir, out) =>
    val pts = Tables.embeddings(s, dir).select(col("vec_id").as("id"),
      element_at(col("embedding"), 1).cast("double").as("x"),
      element_at(col("embedding"), 2).cast("double").as("y"))
    gridEpsPairs(pts, eps = 0.05, eps2 = 0.0025)
      .write.mode("overwrite").parquet(out + "/pairs.parquet")
    pts.select("id").write.mode("overwrite").parquet(out + "/ids.parquet")
  }

  /** ε-graph single linkage for the q358 family: Borůvka over the raw
    * ε-pairs, then the level-encoded label pass, persisted as `labels`.
    * Labels are component minima and the (w, a, b) min key makes the
    * elected MST unique. */
  lazy val EpsSlink: Substrate = Substrate("eps_slink", Seq(EpsPairs)) {
    (s, dir, out) =>
      val edges = EpsPairs.read(s, dir, "pairs").where(col("ia") < col("ib"))
        .select(col("ia").as("a"), col("ib").as("b"), col("w"))
      val (mst, _) = boruvkaMst(EpsPairs.read(s, dir, "ids"), edges)
      singleLinkageLabels(mst, HdbCuts)
        .write.mode("overwrite").parquet(out + "/labels.parquet")
  }

  /** MUTUAL-REACHABILITY single linkage (q360's metric — HDBSCAN as
    * published): same candidates, Borůvka and label pass as
    * [[EpsSlink]], over [[mutualReachEdges]]' core-distance-weighted
    * edges. Artifacts `mst` (a, b, w — q364's OPTICS traversal runs on
    * this exact tree; n−1 rows) and `labels`, derived from the
    * PERSISTED tree so both are views of one elected MST. */
  lazy val MrSlink: Substrate = Substrate("mr_slink", Seq(EpsPairs)) {
    (s, dir, out) =>
      val edges = mutualReachEdgesFrom(EpsPairs.read(s, dir, "pairs"),
        HdbMinSize)
      val (mst, _) = boruvkaMst(EpsPairs.read(s, dir, "ids"), edges)
      mst.write.mode("overwrite").parquet(out + "/mst.parquet")
      singleLinkageLabels(s.read.parquet(out + "/mst.parquet"), HdbCuts)
        .write.mode("overwrite").parquet(out + "/labels.parquet")
  }

  /** The condensed tree over the [[EpsSlink]] labels — the q358/q359/
    * q362 readouts' input; see [[condensedTree]]. */
  lazy val EpsTree: Substrate =
    Substrate("eps_tree", Seq(EpsSlink))(condensedTree(EpsSlink))

  /** The condensed tree over the [[MrSlink]] labels — q360/q381/q382's. */
  lazy val MrTree: Substrate =
    Substrate("mr_tree", Seq(MrSlink))(condensedTree(MrSlink))

  /** One condensed-tree construction over `slink`'s label scaffold,
    * persisting every frame the readouts consume:
    *  - `cl` — condensed clusters (bj, bc, n_birth, stability, pbj,
    *    pbc): the hdbscan readouts' join side;
    *  - `sel` — the excess-of-mass selection (bj, bc, selected);
    *  - `att` — per-point attachments (node, dp, bj, bc), `dm` —
    *    subtree-deepest levels, `sela` — selected ancestors: the
    *    outlier/membership readout inputs.
    * All frames are exact integers (att is the one point-count-sized
    * artifact), so the parquet round-trip is bit-exact. */
  private def condensedTree(slink: Substrate)(s: SparkSession, dir: String,
      out: String): Unit = {
    val k = HdbCuts.length
    val (labels, cida, cl) = condensedTreeFromLabels(
      slink.read(s, dir, "labels"), HdbCuts, HdbLambdas, HdbMinSize)
    cl.write.mode("overwrite").parquet(out + "/cl.parquet")
    // downstream frames derive from the PERSISTED cluster table
    // (read-back, not lineage): the artifacts are views of one tree
    val clP = s.read.parquet(out + "/cl.parquet")
    val sel = selectionFrame(clP, k)
    sel.write.mode("overwrite").parquet(out + "/sel.parquet")
    attachments(labels, cida, k)
      .write.mode("overwrite").parquet(out + "/att.parquet")
    subtreeDeepest(cida, clP, k)
      .write.mode("overwrite").parquet(out + "/dm.parquet")
    selectedAncestors(s.read.parquet(out + "/sel.parquet"), clP, k)
      .write.mode("overwrite").parquet(out + "/sela.parquet")
  }

  /** OPTICS ordering + per-point reachability over an MST forest (✚ —
    * Ankerst/Breunig/Kriegel/Sander 1999, via the MST form: with the
    * mutual-reachability tree already elected, every point's OPTICS
    * REACHABILITY equals the weight of its parent edge in the tree
    * rooted at its component's minimum id — whichever traversal built
    * the plot, the attach edge is the tree edge, so the VALUES are
    * root-determined and traversal-independent — and the plot ORDER is
    * a DFS preorder of that rooted tree (the construction the HDBSCAN
    * literature uses to recover reachability plots from the MST).
    *
    * The DFS looks inherently sequential; the distributed answer is
    * the PRAM classic: EULER TOUR + pointer-doubling LIST RANKING
    * (Wyllie). Each undirected tree edge becomes two arcs; at every
    * node the incident arcs form a ring in (w, neighbor) ascending
    * order, and succ(u→v) = (v → v's ring-successor of u) linearises
    * the whole tour into ONE successor chain per component (children
    * are visited ring-cyclically starting after the parent — the
    * deterministic DFS the oracle replays with lexicographic path
    * keys). The arc whose successor would wrap past the component
    * root's start arc is the chain terminal. Pointer doubling then
    * ranks every arc in ⌈log₂ 2(n−1)⌉ self-joins of the arc table —
    * d(arc) = arcs remaining to the terminal — and a node's FIRST
    * visit is its max-d entering arc: preorder position = rank of d
    * descending within the component, parent-edge weight = that arc's
    * w. Roots order first with NULL reachability (OPTICS's UNDEFINED).
    *
    * Scale: the tree is n−1 edges regardless of the candidate-graph
    * density, so every relation here is 2(n−1) rows; the doubling loop
    * shuffles O(n log n) total — no corpus pass, no quadratic blowup,
    * and the O(diameter) pitfall the r14 CC rewrite removed never
    * reappears (path-like trees cost the SAME log rounds). Driver sees
    * only per-round convergence probes. */
  def opticsOrder(mstEdges: DataFrame, maxIter: Int = 34,
      compLabels: Option[DataFrame] = None): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val edges = pin(mstEdges.select(col("a"), col("b"), col("w")))
    // component labels = min member id = the OPTICS start (root) point;
    // callers holding a precomputed (node, lbl) frame (the cached
    // single-linkage scaffold's top-cut column covers every tree edge
    // by construction) pass it in and skip the CC rounds entirely
    val lab = compLabels.map { lf =>
      val l = pin(lf.select(col("node"), col("lbl")))
      // tree-sized audit of the caller's frame (ADVICE r15): a COARSER
      // partition fails visibly (no terminal → convergence require),
      // but a FINER one would mark spurious mid-chain terminals and
      // silently emit wrong positions — so require (a) no tree edge
      // crosses labels, (b) every label is its group's min member id
      // (the root convention terminal detection trusts). Two probes
      // over n−1-row frames: noise next to the doubling rounds.
      val split = edges
        .join(l.select(col("node").as("a"), col("lbl").as("la")), "a")
        .join(l.select(col("node").as("b"), col("lbl").as("lb")), "b")
        .where(col("la") =!= col("lb")).limit(1).count()
      require(split == 0L,
        "opticsOrder: compLabels split a tree edge (partition finer than the MST components)")
      val badRoot = l.groupBy("lbl").agg(min(col("node")).as("mn"))
        .where(col("lbl") =!= col("mn")).limit(1).count()
      require(badRoot == 0L,
        "opticsOrder: compLabels are not min-member-id component labels")
      l
    }.getOrElse {
      val nodes = edges.select(col("a").as("id"))
        .unionByName(edges.select(col("b").as("id"))).distinct()
      pin(connectedComponents(nodes,
        edges.select(col("a").as("id_a"), col("b").as("id_b")),
        maxIter))
    }
    val adj = edges.select(col("a").as("node"), col("b").as("nbr"), col("w"))
      .unionByName(edges.select(col("b").as("node"), col("a").as("nbr"), col("w")))
    val ring = W.partitionBy("node").orderBy("w", "nbr")
    // ring successor of `nbr` at `node`; `wrapped` marks the LAST ring
    // position (its successor is the ring's first neighbor again)
    val succ = adj
      .withColumn("nx0", lead("nbr", 1).over(ring))
      .withColumn("wrapped", col("nx0").isNull)
      .withColumn("nx", coalesce(col("nx0"), first("nbr").over(ring)))
    // arcs u→v with succ arc (v → nx) and the terminal mark: re-enters
    // the component ROOT at its last ring position ⇒ succ would wrap
    // to the tour's start arc
    val arcs = succ
      .join(lab.select(col("node"), col("lbl").as("comp")), "node")
      .select(col("nbr").as("u"), col("node").as("v"), col("w"),
        col("comp"), col("nx"), col("wrapped"))
      .withColumn("term", col("wrapped") && col("v") === col("comp"))
    var st = pin(arcs.select(col("u"), col("v"), col("w"), col("comp"),
      when(col("term"), col("u")).otherwise(col("v")).as("pu"),
      when(col("term"), col("v")).otherwise(col("nx")).as("pv"),
      when(col("term"), lit(0L)).otherwise(lit(1L)).as("d"),
      col("term")))
    // after k doubling rounds every pointer has advanced 2^k arcs (or
    // absorbed at the terminal), so ⌈log₂ totalArcs⌉ rounds suffice —
    // computed ONCE from the pinned arc count instead of a convergence
    // action per round (micro-job latency is the dominant cost of
    // iterative gates at small SF, SCALE.md round 12)
    val totalArcs = math.max(st.count(), 1L)
    val rounds = math.min(maxIter,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(totalArcs - 1, 1L)))
    for (_ <- 0 until rounds.toInt) {
      val y = st.select(col("u").as("yu"), col("v").as("yv"),
        col("pu").as("ypu"), col("pv").as("ypv"), col("d").as("yd"))
      st = pin(st
        .join(y, col("pu") === col("yu") && col("pv") === col("yv"))
        .select(col("u"), col("v"), col("w"), col("comp"),
          col("ypu").as("pu"), col("ypv").as("pv"),
          (col("d") + col("yd")).as("d"), col("term")))
    }
    // one verification probe for the whole loop: every pointer must
    // now BE the terminal arc (pu, pv) = (last ring nbr of root, root)
    val unconverged = st.join(
        st.where(col("term")).select(col("u").as("pu"), col("v").as("pv")),
        Seq("pu", "pv"), "left_anti")
      .limit(1).count()
    require(unconverged == 0L,
      s"opticsOrder: list ranking not converged after $rounds rounds")
    // first visit of v = its max-d entering arc (d is the arc's
    // distance to the terminal: unique within a component's chain)
    val entry = st.groupBy(col("v"), col("comp"))
      .agg(max(struct(col("d"), col("w"))).as("m"))
      .where(col("v") =!= col("comp"))
      .select(col("v").as("vec_id"), col("comp"),
        col("m").getField("d").as("d"), col("m").getField("w").as("reach"))
    val pre = W.partitionBy("comp").orderBy(col("d").desc)
    val ranked = entry.select(col("vec_id"), col("comp"),
      row_number().over(pre).cast("long").as("pos"), col("reach"))
    lab.select(col("lbl")).distinct()
      .select(col("lbl").as("vec_id"), col("lbl").as("comp"),
        lit(0L).as("pos"), lit(null).cast("double").as("reach"))
      .unionByName(ranked)
  }

  /** FLAT clusters from an OPTICS reachability plot (✚ — Ankerst/
    * Breunig/Kriegel/Sander 1999 §4.1, ExtractDBSCAN: scan the plot in
    * order; reachability above ε′ ends the current cluster, the
    * boundary point anchors the next valley): per component, segments
    * are maximal runs of reach ≤ ε′ plus the anchor point that opened
    * the valley (root rows and reach > ε′ rows are boundaries);
    * segments of ≥ `minSize` points are clusters named by their
    * minimum member id, everything else is noise (NULL cluster).
    *
    * This is a PURE window-and-aggregate readout of the (pos, reach)
    * frame — one cumulative-sum window to number segments, one
    * segment-keyed aggregate for sizes — zero new substrate passes:
    * the plot is q364's, riding the cached mutual-reachability MST.
    * The published rule also consults coreDist(p) ≤ ε′ to decide
    * whether a boundary point seeds the next cluster or is noise;
    * without per-point core distances on the plot frame, a boundary is
    * treated as the valley's anchor (it merges into the following
    * cluster iff the valley reaches `minSize`), which coincides with
    * the published rule whenever the anchor is core — the documented
    * approximation, conservative in the noise direction. Scale: both
    * the window and the aggregate are keyed by (comp, segment) over
    * n-row input — nothing wider than the plot itself. */
  def opticsExtractClusters(plot: DataFrame, eps: Double,
      minSize: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val seg = plot.withColumn("up",
        col("reach").isNull || col("reach") > lit(eps))
      .withColumn("seg",
        sum(when(col("up"), 1L).otherwise(0L))
          .over(W.partitionBy("comp").orderBy("pos")))
    val sizes = seg.groupBy("comp", "seg")
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("cid"))
    seg.join(sizes, Seq("comp", "seg"))
      .select(col("vec_id"),
        when(col("n") >= minSize, col("cid")).as("cluster_id"),
        when(col("n") >= minSize, col("n")).as("cluster_size"))
      .orderBy("vec_id")
  }

  /** Discretized COPHENETIC distances + the cophenetic correlation
    * coefficient (✚ — Sokal/Rohlf 1962, the standard "how faithfully
    * does the dendrogram preserve the metric" readout) over the shared
    * ε-slink scaffold: for every candidate pair the cophenetic
    * distance is the first cut of the ladder at which the two points
    * co-cluster (single linkage ⇒ the dendrogram merge height,
    * discretized to the same cut ladder every gate in this family
    * uses), and CPCC is the Pearson correlation between raw pair
    * distances and those merge heights.
    *
    * Exactness: both coordinates are 9-dp-exact by construction (w is
    * round@9, cuts are ladder constants), so both engines sum the SAME
    * integers (w·10⁹, cut·10⁹) into exact DECIMAL moments and evaluate
    * one fixed-shape double expression at the end — no accumulation-
    * order drift, CPCC rounded @6 on both sides. Per-level rows carry
    * the pair count and the exact Σ(w·10⁹) so the histogram itself is
    * integer-exact.
    *
    * Scale: one grid ε-pass for the pair table (never all-pairs), two
    * label-frame joins keyed by point id, one aggregation — the label
    * scaffold is the CACHED substrate, so this is the fifth readout of
    * the same tree at zero new substrate passes. */
  def copheneticReport(labels: DataFrame, pairs: DataFrame,
      cuts: Seq[Double]): DataFrame = {
    // the level indices consumed below come from singleLinkageLabels,
    // which sorts its cuts internally — sort here too so an unsorted
    // caller can't silently map levels to wrong cut heights
    // (ADVICE r15); `ts` replaces `cuts` everywhere downstream
    val ts = cuts.sorted
    val k = ts.length
    val la = labels.select(col("node").as("ia") +: col("nlvl").as("na") +:
      (0 until k).map(j => col(s"l$j").as(s"a$j")): _*)
    val lb = labels.select(col("node").as("ib") +: col("nlvl").as("nb") +:
      (0 until k).map(j => col(s"l$j").as(s"b$j")): _*)
    // first ladder level where the pair co-clusters; a candidate pair
    // IS an edge at the top cut, so the coalesce never falls through
    val lvl = (0 until k).map(j =>
      when(col("na") <= j && col("nb") <= j && col(s"a$j") === col(s"b$j"),
        lit(j))).reduce(coalesce(_, _))
    val scored = pairs.join(la, "ia").join(lb, "ib")
      .select(round(col("w") * 1e9).cast("long").as("w9"), lvl.as("lvl"))
    val cut9 = element_at(
      array(ts.map(t => lit(math.round(t * 1e9))): _*), col("lvl") + 1)
    val xy = scored.select(col("w9").as("x"), cut9.as("y"), col("lvl"))
    val d38 = "decimal(38,0)"
    val m = xy.agg(count(lit(1)).as("n"),
      sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
      sum((col("x") * col("y")).cast(d38)).as("sxy"),
      sum((col("x") * col("x")).cast(d38)).as("sxx"),
      sum((col("y") * col("y")).cast(d38)).as("syy"))
    val nD = col("n").cast("double")
    val cpcc = round(
      (nD * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")) /
      sqrt((nD * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
           (nD * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))), 6)
    val perLevel = xy.groupBy("lvl")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x").cast(d38)).cast("long").as("w9_sum"))
      .select((element_at(array(ts.map(lit): _*), col("lvl") + 1))
        .as("cut"), col("n_pairs"), col("w9_sum"))
    perLevel.crossJoin(m.select(cpcc.as("cpcc"))).orderBy("cut")
  }

  /** Shared CTE chain of the q358/q359 oracles: per-level partitions
    * by full-graph reachability, real instances, condensed-cluster
    * resolution, stability, and parent pointers — everything up to
    * and including the `cl` CTE (trailing comma included), so the
    * two gates stay textually identical where their semantics are
    * (the KnScoreSqlTail pattern). */
  /** Everything up to the ε-candidate pair table `p` — shared verbatim
    * by the raw-distance (q358/q359) and mutual-reachability (q360)
    * oracle chains. */
  private lazy val HdbscanSqlPrefix: String =
    """WITH RECURSIVE e AS (
             |  SELECT vec_id AS id, CAST(embedding[1] AS DOUBLE) AS x,
             |    CAST(embedding[2] AS DOUBLE) AS y
             |  FROM embeddings),
             |lv AS (SELECT * FROM (VALUES (0, 0.0004, 900, 2500),
             |  (1, 0.000625, 975, 1600), (2, 0.0016, 225, 625),
             |  (3, 0.0025, 0, 400)) AS t(j, t2, gap, lam)),
             |p AS MATERIALIZED (
             |  SELECT a.id AS u, b.id AS v,
             |    round((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y), 9) AS w
             |  FROM e a JOIN e b ON a.id <> b.id
             |  WHERE round((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y), 9)
             |    <= 0.0025),""".stripMargin

  /** The level-edge table for q360: per-point core distance = the
    * (minPts−1)-th smallest candidate distance (the window re-derives
    * it from the SAME pair table the partition check scans — VERDICT
    * r14 #3 "oracle re-deriving core distances exactly"), then
    * d_mreach = GREATEST(core_u, core_v, w). */
  private lazy val MreachSymSql: String =
    s"""cored AS MATERIALIZED (
             |  SELECT u, w AS core FROM (
             |    SELECT u, w, ROW_NUMBER() OVER (PARTITION BY u ORDER BY w, v)
             |      AS rn FROM p) t
             |  WHERE rn = ${HdbMinSize - 1}),
             |mre AS MATERIALIZED (
             |  SELECT p.u, p.v, GREATEST(p.w, ca.core, cb.core) AS w
             |  FROM p JOIN cored ca ON ca.u = p.u
             |  JOIN cored cb ON cb.u = p.v),
             |sym AS MATERIALIZED (
             |  SELECT lv.j, m.u, m.v FROM mre m, lv WHERE m.w <= lv.t2),""".stripMargin

  /** Partition → condensed tree → stability, from whatever `sym`
    * (level, u, v) edge table the prefix built — everything up to and
    * including the `cl` CTE (trailing comma included). */
  private lazy val HdbscanSqlTreeTail: String =
    """ids AS (SELECT DISTINCT j, u AS id FROM sym),
             |reach(j, node, lbl) AS (
             |  SELECT j, id, id FROM ids
             |  UNION
             |  SELECT s.j, s.v, r.lbl FROM reach r JOIN sym s ON s.j = r.j AND s.u = r.node),
             |lab AS MATERIALIZED (SELECT j, node, MIN(lbl) AS lbl FROM reach GROUP BY 1, 2),
             |inst AS MATERIALIZED (
             |  SELECT j, lbl AS c, COUNT(*) AS sz FROM lab GROUP BY 1, 2
             |  HAVING COUNT(*) >= 5),
             |par AS MATERIALIZED (
             |  SELECT i.j, i.c, i.sz, l.lbl AS p
             |  FROM inst i LEFT JOIN lab l ON l.j = i.j + 1 AND l.node = i.c),
             |kd AS (SELECT j + 1 AS pj, p AS pc, COUNT(*) AS nk
             |       FROM par WHERE j < 3 GROUP BY 1, 2),
             |born AS MATERIALIZED (
             |  SELECT pr.j, pr.c, pr.sz, pr.p,
             |    (pr.j = 3 OR COALESCE(k.nk, 0) >= 2) AS isborn
             |  FROM par pr LEFT JOIN kd k ON k.pj = pr.j + 1 AND k.pc = pr.p),
             |cid3 AS (SELECT j, c, sz, 3 AS bj, c AS bc FROM born WHERE j = 3),
             |cid2 AS (
             |  SELECT b.j, b.c, b.sz,
             |    CASE WHEN b.isborn THEN 2 ELSE u.bj END AS bj,
             |    CASE WHEN b.isborn THEN b.c ELSE u.bc END AS bc
             |  FROM born b LEFT JOIN cid3 u ON u.c = b.p WHERE b.j = 2),
             |cid1 AS (
             |  SELECT b.j, b.c, b.sz,
             |    CASE WHEN b.isborn THEN 1 ELSE u.bj END AS bj,
             |    CASE WHEN b.isborn THEN b.c ELSE u.bc END AS bc
             |  FROM born b LEFT JOIN cid2 u ON u.c = b.p WHERE b.j = 1),
             |cid0 AS (
             |  SELECT b.j, b.c, b.sz,
             |    CASE WHEN b.isborn THEN 0 ELSE u.bj END AS bj,
             |    CASE WHEN b.isborn THEN b.c ELSE u.bc END AS bc
             |  FROM born b LEFT JOIN cid1 u ON u.c = b.p WHERE b.j = 0),
             |cida AS MATERIALIZED (
             |  SELECT * FROM cid3 UNION ALL SELECT * FROM cid2
             |  UNION ALL SELECT * FROM cid1 UNION ALL SELECT * FROM cid0),
             |stab AS MATERIALIZED (
             |  SELECT a.bj, a.bc, CAST(COALESCE(SUM(
             |      CASE WHEN a.j < a.bj THEN a.sz * g.gap END), 0) AS BIGINT)
             |    AS stability
             |  FROM cida a JOIN lv g ON g.j = a.j GROUP BY 1, 2),
             |cl AS MATERIALIZED (
             |  SELECT s.bj, s.bc, bi.sz AS n_birth, s.stability,
             |    up.bj AS pbj, up.bc AS pbc
             |  FROM stab s
             |  JOIN born bi ON bi.j = s.bj AND bi.c = s.bc
             |  LEFT JOIN cida up ON up.j = s.bj + 1 AND up.c = bi.p),""".stripMargin

  /** The q358 chain: raw-distance level edges + the shared tree tail
    * (textually identical across q358/q359, see [[HdbscanSqlTreeTail]]). */
  private lazy val HdbscanSqlBase: String =
    HdbscanSqlPrefix + "\n" +
      """sym AS MATERIALIZED (SELECT lv.j, p.u, p.v FROM p, lv WHERE p.w <= lv.t2),""" +
      "\n" + HdbscanSqlTreeTail

  /** The q360 chain: mutual-reachability level edges + the same tail. */
  private lazy val MreachSqlBase: String =
    HdbscanSqlPrefix + "\n" + MreachSymSql + "\n" + HdbscanSqlTreeTail

  /** q363's oracle: the SAME raw-distance level-connectivity chain as
    * q358 (prefix + sym + ids/reach/lab, textually identical — the two
    * gates cannot disagree on what a level partition is), then per
    * candidate pair the FIRST level whose labels coincide (= the
    * discretized dendrogram merge height), exact integer moments, and
    * the one fixed-shape double CPCC expression mirrored verbatim by
    * [[copheneticReport]]. */
  private lazy val CophOracleSql: String =
    HdbscanSqlPrefix + "\n" +
      """sym AS MATERIALIZED (SELECT lv.j, p.u, p.v FROM p, lv WHERE p.w <= lv.t2),
             |ids AS (SELECT DISTINCT j, u AS id FROM sym),
             |reach(j, node, lbl) AS (
             |  SELECT j, id, id FROM ids
             |  UNION
             |  SELECT s.j, s.v, r.lbl FROM reach r JOIN sym s ON s.j = r.j AND s.u = r.node),
             |lab AS MATERIALIZED (SELECT j, node, MIN(lbl) AS lbl FROM reach GROUP BY 1, 2),
             |pu AS (SELECT u, v, w FROM p WHERE u < v),
             |ml AS MATERIALIZED (
             |  SELECT pu.u, pu.v, pu.w, MIN(la.j) AS lvl
             |  FROM pu JOIN lab la ON la.node = pu.u
             |  JOIN lab lb ON lb.node = pu.v AND lb.j = la.j AND lb.lbl = la.lbl
             |  GROUP BY 1, 2, 3),
             |xy AS MATERIALIZED (
             |  SELECT CAST(round(ml.w*1e9) AS BIGINT) AS x,
             |         CAST(round(g.t2*1e9) AS BIGINT) AS y, ml.lvl
             |  FROM ml JOIN lv g ON g.j = ml.lvl),
             |m AS (SELECT COUNT(*) AS n,
             |  SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             |  SUM(CAST(x*y AS DECIMAL(38,0))) AS sxy,
             |  SUM(CAST(x*x AS DECIMAL(38,0))) AS sxx,
             |  SUM(CAST(y*y AS DECIMAL(38,0))) AS syy FROM xy),
             |c AS (SELECT round(
             |    (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
             |       - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
             |  / sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
             |            - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
             |       * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
             |            - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6) AS cpcc
             |  FROM m),
             |ag AS (SELECT g.t2 AS cut, COUNT(*) AS n_pairs,
             |         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS BIGINT) AS w9_sum
             |       FROM xy JOIN lv g ON g.j = xy.lvl GROUP BY 1)
             |SELECT ag.cut, ag.n_pairs, ag.w9_sum, c.cpcc
             |FROM ag CROSS JOIN c ORDER BY cut""".stripMargin

  /** q364's oracle: re-derives the mutual-reachability edge set with
    * the SAME prefix/core CTEs as q360, elects the unique
    * (w, a, b)-tie-broken MST by `rounds` UNROLLED Borůvka rounds
    * (per-component min outgoing edge by ROW_NUMBER over the identical
    * key; component relabel = recursive reach over the tiny comp-level
    * merge graph, label = group min — exactly [[boruvkaMst]]'s merge
    * semantics; converged rounds are no-ops, so `rounds` only needs to
    * cover ⌈log₂ n⌉), then replays the Euler-tour DFS as a recursive
    * parent walk with fixed-width lexicographic path keys: at each node
    * children order CYCLICALLY AFTER THE PARENT in the (w, nbr) ring —
    * '0'-prefixed keys for ring positions after the parent, '1' for the
    * wrapped ones — which is precisely the successor order the
    * distributed tour follows, so ROW_NUMBER over the path key IS the
    * tour's first-visit order. */
  private def opticsOracleSql(rounds: Int): String =
    opticsPlotCtes(rounds) + "\n" +
      """SELECT vec_id, comp, pos, reach FROM plot
             |ORDER BY comp, pos""".stripMargin

  /** The q364 reachability PLOT as a reusable CTE chain ending in
    * `plot` (vec_id, comp, pos, reach) — shared verbatim by q364's
    * oracle and q373's extraction oracle, so the two gates cannot
    * drift on what the tour is. */
  private def opticsPlotCtes(rounds: Int): String = {
    val roundCtes = (0 until rounds).map { r =>
      s"""ext$r AS (
             |  SELECT e.a, e.b, e.w, la.comp AS ca, lb.comp AS cb
             |  FROM em e JOIN lab$r la ON la.node = e.a
             |  JOIN lab$r lb ON lb.node = e.b
             |  WHERE la.comp <> lb.comp),
             |win$r AS (
             |  SELECT a, b, w, ca, cb FROM (
             |    SELECT t.*, ROW_NUMBER() OVER (PARTITION BY c ORDER BY w, a, b) AS rn
             |    FROM (SELECT ca AS c, a, b, w, ca, cb FROM ext$r
             |          UNION ALL SELECT cb, a, b, w, ca, cb FROM ext$r) t) s
             |  WHERE rn = 1),
             |mg$r AS (SELECT DISTINCT LEAST(ca, cb) AS cs, GREATEST(ca, cb) AS ct
             |         FROM win$r),
             |mgs$r AS (SELECT cs AS u, ct AS v FROM mg$r
             |          UNION ALL SELECT ct, cs FROM mg$r),
             |crch$r(node, lbl) AS (
             |  SELECT comp, comp FROM (SELECT DISTINCT comp FROM lab$r) t
             |  UNION
             |  SELECT m.v, rr.lbl FROM crch$r rr JOIN mgs$r m ON m.u = rr.node),
             |cmap$r AS (SELECT node AS comp, MIN(lbl) AS nc FROM crch$r GROUP BY 1),
             |lab${r + 1} AS MATERIALIZED (
             |  SELECT l.node, c.nc AS comp FROM lab$r l JOIN cmap$r c USING (comp))""".stripMargin
    }.mkString(",\n")
    val winUnion = (0 until rounds)
      .map(r => s"SELECT a, b, w FROM win$r").mkString("\n  UNION ALL ")
    HdbscanSqlPrefix + "\n" + MreachSymSql + "\n" +
      s"""em AS MATERIALIZED (SELECT DISTINCT u AS a, v AS b, w FROM mre WHERE u < v),
             |lab0 AS MATERIALIZED (
             |  SELECT node, node AS comp FROM (
             |    SELECT a AS node FROM em UNION SELECT b FROM em) t),
             |$roundCtes,
             |mst AS MATERIALIZED (SELECT DISTINCT a, b, w FROM (
             |  $winUnion) u),
             |madj AS (SELECT a AS node, b AS nbr, w FROM mst
             |         UNION ALL SELECT b, a, w FROM mst),
             |walk(node, parent, pw, comp, pk) AS (
             |  SELECT comp, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), comp, ''
             |  FROM (SELECT DISTINCT comp FROM lab$rounds) t
             |  UNION ALL
             |  SELECT a.nbr, wk.node, a.w, wk.comp,
             |    wk.pk || CASE WHEN wk.parent IS NULL
             |                  OR a.w > wk.pw
             |                  OR (a.w = wk.pw AND a.nbr > wk.parent)
             |             THEN '0' ELSE '1' END
             |          || lpad(CAST(CAST(round(a.w*1e9) AS BIGINT) AS VARCHAR), 12, '0')
             |          || lpad(CAST(a.nbr AS VARCHAR), 12, '0')
             |  FROM walk wk JOIN madj a ON a.node = wk.node
             |    AND (wk.parent IS NULL OR a.nbr <> wk.parent)),
             |plot AS MATERIALIZED (
             |  SELECT node AS vec_id, comp,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY comp ORDER BY pk) - 1 AS BIGINT)
             |      AS pos,
             |    CASE WHEN parent IS NULL THEN NULL ELSE pw END AS reach
             |  FROM walk)""".stripMargin
  }

  /** Excess-of-mass selection + descendant veto, unrolled bottom-up
    * then top-down over the `cl` CTE — shared VERBATIM by q358 and
    * q360 (same ladder, same algebra; only the metric upstream
    * differs). */
  /** Excess-of-mass + veto as CTEs only (`v0`..`sa`), reusable by any
    * readout that needs the selection frame (q358's final select,
    * q362's per-point soft memberships). */
  private lazy val HdbscanSelCtes: String =
    """v0 AS (SELECT bj, bc, stability AS v, true AS chosen
             |       FROM cl WHERE bj = 0),
             |v1 AS (
             |  SELECT c.bj, c.bc, GREATEST(c.stability, COALESCE(s.sv, 0)) AS v,
             |    c.stability >= COALESCE(s.sv, 0) AS chosen
             |  FROM cl c LEFT JOIN (
             |    SELECT d.pbj, d.pbc, CAST(SUM(v.v) AS BIGINT) AS sv
             |    FROM cl d JOIN v0 v ON v.bj = d.bj AND v.bc = d.bc
             |    WHERE d.pbj = 1 GROUP BY 1, 2) s
             |    ON s.pbj = c.bj AND s.pbc = c.bc
             |  WHERE c.bj = 1),
             |v01 AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1),
             |v2 AS (
             |  SELECT c.bj, c.bc, GREATEST(c.stability, COALESCE(s.sv, 0)) AS v,
             |    c.stability >= COALESCE(s.sv, 0) AS chosen
             |  FROM cl c LEFT JOIN (
             |    SELECT d.pbj, d.pbc, CAST(SUM(v.v) AS BIGINT) AS sv
             |    FROM cl d JOIN v01 v ON v.bj = d.bj AND v.bc = d.bc
             |    WHERE d.pbj = 2 GROUP BY 1, 2) s
             |    ON s.pbj = c.bj AND s.pbc = c.bc
             |  WHERE c.bj = 2),
             |v012 AS (SELECT * FROM v01 UNION ALL SELECT * FROM v2),
             |v3 AS (
             |  SELECT c.bj, c.bc, GREATEST(c.stability, COALESCE(s.sv, 0)) AS v,
             |    c.stability >= COALESCE(s.sv, 0) AS chosen
             |  FROM cl c LEFT JOIN (
             |    SELECT d.pbj, d.pbc, CAST(SUM(v.v) AS BIGINT) AS sv
             |    FROM cl d JOIN v012 v ON v.bj = d.bj AND v.bc = d.bc
             |    WHERE d.pbj = 3 GROUP BY 1, 2) s
             |    ON s.pbj = c.bj AND s.pbc = c.bc
             |  WHERE c.bj = 3),
             |va AS MATERIALIZED (SELECT * FROM v012 UNION ALL SELECT * FROM v3),
             |s3 AS (SELECT bj, bc, chosen AS selected, chosen AS blocked
             |       FROM va WHERE bj = 3),
             |s2 AS (
             |  SELECT v.bj, v.bc,
             |    (v.chosen AND NOT COALESCE(a.blocked, false)) AS selected,
             |    (COALESCE(a.blocked, false) OR v.chosen) AS blocked
             |  FROM va v JOIN cl c ON c.bj = v.bj AND c.bc = v.bc
             |  LEFT JOIN s3 a ON a.bj = c.pbj AND a.bc = c.pbc
             |  WHERE v.bj = 2),
             |s32 AS (SELECT * FROM s3 UNION ALL SELECT * FROM s2),
             |s1 AS (
             |  SELECT v.bj, v.bc,
             |    (v.chosen AND NOT COALESCE(a.blocked, false)) AS selected,
             |    (COALESCE(a.blocked, false) OR v.chosen) AS blocked
             |  FROM va v JOIN cl c ON c.bj = v.bj AND c.bc = v.bc
             |  LEFT JOIN s32 a ON a.bj = c.pbj AND a.bc = c.pbc
             |  WHERE v.bj = 1),
             |s321 AS (SELECT * FROM s32 UNION ALL SELECT * FROM s1),
             |s0 AS (
             |  SELECT v.bj, v.bc,
             |    (v.chosen AND NOT COALESCE(a.blocked, false)) AS selected,
             |    (COALESCE(a.blocked, false) OR v.chosen) AS blocked
             |  FROM va v JOIN cl c ON c.bj = v.bj AND c.bc = v.bc
             |  LEFT JOIN s321 a ON a.bj = c.pbj AND a.bc = c.pbc
             |  WHERE v.bj = 0),
             |sa AS (SELECT * FROM s321 UNION ALL SELECT * FROM s0)""".stripMargin

  /** The q358/q360 chain tail: selection CTEs + the cluster-level
    * readout. */
  private lazy val HdbscanSelectSql: String =
    HdbscanSelCtes + "\n" +
      """SELECT CASE sa.bj WHEN 0 THEN 0.0004 WHEN 1 THEN 0.000625
             |    WHEN 2 THEN 0.0016 ELSE 0.0025 END AS cut,
             |  sa.bc AS cluster, cl.n_birth, cl.stability, sa.selected
             |FROM sa JOIN cl ON cl.bj = sa.bj AND cl.bc = sa.bc
             |ORDER BY cut, cluster""".stripMargin

  /** The GLOSH per-point readout (attachment + subtree-deepest +
    * ppm score) — shared VERBATIM by q359 (raw-ε tree) and q381
    * (mutual-reachability tree, r18): same attachment CTEs, same
    * score algebra; only the metric upstream differs. */
  private lazy val GloshSelectSql: String =
    GloshAttachCtes + "\n" +
      """SELECT a.node AS vec_id, a.bc AS cluster,
             |  CAST(la.lam AS BIGINT) AS lam_attach,
             |  CAST(lm.lam AS BIGINT) AS lam_max,
             |  CAST(1000000 - (1000000 * CAST(la.lam AS BIGINT)) // lm.lam
             |    AS BIGINT) AS glosh_ppm
             |FROM att a
             |JOIN dma d ON d.bj = a.bj AND d.bc = a.bc
             |JOIN lv la ON la.j = a.dp
             |JOIN lv lm ON lm.j = d.dm
             |ORDER BY vec_id""".stripMargin

  /** The soft-membership tail (selection + attachment CTEs + the
    * unrolled selected-ancestor resolution and the ppm readout) —
    * shared VERBATIM by q362 (raw-ε tree) and q382
    * (mutual-reachability tree, r18). */
  private lazy val SoftMembershipTailSql: String =
    HdbscanSelCtes + ",\n" + GloshAttachCtes + ",\n" +
      """sel3 AS (SELECT bj, bc,
             |  CASE WHEN selected THEN bj END AS abj,
             |  CASE WHEN selected THEN bc END AS abc
             |  FROM sa WHERE bj = 3),
             |sel2 AS (
             |  SELECT v.bj, v.bc,
             |    CASE WHEN v.selected THEN v.bj ELSE u.abj END AS abj,
             |    CASE WHEN v.selected THEN v.bc ELSE u.abc END AS abc
             |  FROM sa v JOIN cl c ON c.bj = v.bj AND c.bc = v.bc
             |  LEFT JOIN sel3 u ON u.bj = c.pbj AND u.bc = c.pbc
             |  WHERE v.bj = 2),
             |sel32 AS (SELECT * FROM sel3 UNION ALL SELECT * FROM sel2),
             |sel1 AS (
             |  SELECT v.bj, v.bc,
             |    CASE WHEN v.selected THEN v.bj ELSE u.abj END AS abj,
             |    CASE WHEN v.selected THEN v.bc ELSE u.abc END AS abc
             |  FROM sa v JOIN cl c ON c.bj = v.bj AND c.bc = v.bc
             |  LEFT JOIN sel32 u ON u.bj = c.pbj AND u.bc = c.pbc
             |  WHERE v.bj = 1),
             |sel321 AS (SELECT * FROM sel32 UNION ALL SELECT * FROM sel1),
             |sel0 AS (
             |  SELECT v.bj, v.bc,
             |    CASE WHEN v.selected THEN v.bj ELSE u.abj END AS abj,
             |    CASE WHEN v.selected THEN v.bc ELSE u.abc END AS abc
             |  FROM sa v JOIN cl c ON c.bj = v.bj AND c.bc = v.bc
             |  LEFT JOIN sel321 u ON u.bj = c.pbj AND u.bc = c.pbc
             |  WHERE v.bj = 0),
             |sela AS (SELECT * FROM sel321 UNION ALL SELECT * FROM sel0)
             |SELECT a.node AS vec_id, s.abc AS cluster,
             |  CAST(la.lam AS BIGINT) AS lam_attach,
             |  CAST(lm.lam AS BIGINT) AS lam_max,
             |  CAST((1000000 * CAST(la.lam AS BIGINT)) // lm.lam AS BIGINT)
             |    AS prob_ppm
             |FROM att a
             |JOIN sela s ON s.bj = a.bj AND s.bc = a.bc AND s.abj IS NOT NULL
             |JOIN dma d ON d.bj = s.abj AND d.bc = s.abc
             |JOIN lv la ON la.j = a.dp
             |JOIN lv lm ON lm.j = d.dm
             |ORDER BY vec_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // Every document mapped to its near-dup cluster representative.
    // Oracle: the SAME verified-pairs CTE chain as q51, closed under
    // reachability with a recursive CTE (symmetric edges ⇒ component
    // min = min over labels that can reach the node).
    QueryDef("q74_dedup_clusters",
      (s, d) => dedupClusters(Tables.documents(s, d),
        pairs = Some(dupPairs(s, d))).orderBy("doc_id"),
      Some(s"""WITH RECURSIVE ${Dedup.verifiedPairsCtes},
             |edges AS (SELECT id_a AS u, id_b AS v FROM vp
             |          UNION ALL SELECT id_b, id_a FROM vp),
             |reach(node, lbl) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node),
             |lab AS (SELECT node AS doc_id, MIN(lbl) AS canonical_id
             |        FROM reach GROUP BY node),
             |cs AS (SELECT canonical_id, COUNT(*) AS cluster_size
             |       FROM lab GROUP BY canonical_id)
             |SELECT lab.doc_id, lab.canonical_id, cs.cluster_size
             |FROM lab JOIN cs USING (canonical_id)
             |ORDER BY doc_id""".stripMargin),
      uses = Seq(DupPairs)),

    // Canonical representative per dup cluster — longest member wins,
    // doc_id breaks ties. Shares q74's reach/lab CTEs verbatim so the
    // two gates cannot disagree on what a cluster is; the oracle's
    // row_number election is the windowed twin of the Spark plan's
    // struct-max partial aggregation.
    QueryDef("q119_cluster_canonical",
      (s, d) => canonicalize(Tables.documents(s, d),
        pairs = Some(dupPairs(s, d))).orderBy("doc_id"),
      Some(s"""WITH RECURSIVE ${Dedup.verifiedPairsCtes},
             |edges AS (SELECT id_a AS u, id_b AS v FROM vp
             |          UNION ALL SELECT id_b, id_a FROM vp),
             |reach(node, lbl) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node),
             |lab AS (SELECT node AS doc_id, MIN(lbl) AS canonical_id
             |        FROM reach GROUP BY node),
             |cs AS (SELECT canonical_id, COUNT(*) AS cluster_size
             |       FROM lab GROUP BY canonical_id),
             |rep AS (
             |  SELECT canonical_id, doc_id AS rep_id FROM (
             |    SELECT lab.canonical_id, d.doc_id,
             |      ROW_NUMBER() OVER (PARTITION BY lab.canonical_id
             |        ORDER BY d.n_chars DESC, d.doc_id) AS rn
             |    FROM lab JOIN documents d USING (doc_id)) t
             |  WHERE rn = 1)
             |SELECT lab.doc_id, rep.rep_id, lab.doc_id = rep.rep_id AS is_rep,
             |       cs.cluster_size
             |FROM lab JOIN rep USING (canonical_id) JOIN cs USING (canonical_id)
             |ORDER BY doc_id""".stripMargin),
      uses = Seq(DupPairs)),

    // Per-source survival under canonical-only dedup — same recursive
    // label chain as q74, aggregated to the curator's report.
    QueryDef("q85_dedup_report",
      (s, d) => dedupReport(Tables.documents(s, d),
        pairs = Some(dupPairs(s, d))).orderBy("source"),
      Some(s"""WITH RECURSIVE ${Dedup.verifiedPairsCtes},
             |edges AS (SELECT id_a AS u, id_b AS v FROM vp
             |          UNION ALL SELECT id_b, id_a FROM vp),
             |reach(node, lbl) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node),
             |lab AS (SELECT node AS doc_id, MIN(lbl) AS canonical_id
             |        FROM reach GROUP BY node)
             |SELECT d.source, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN lab.doc_id = lab.canonical_id THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_survivors,
             |  ROUND(SUM(CASE WHEN lab.doc_id = lab.canonical_id THEN 1 ELSE 0 END)
             |          / CAST(COUNT(*) AS DOUBLE), 6) AS survival_rate
             |FROM lab JOIN documents d USING (doc_id)
             |GROUP BY d.source
             |ORDER BY source""".stripMargin),
      uses = Seq(DupPairs)),

    // Document centrality within the near-dup graph — 5 power-iteration
    // rounds over the q51 verified pairs (the cached [[dupPairs]]
    // substrate, r16 — the gate measures the iteration, not a pipeline
    // rebuild), oracle unrolled level by level with identical
    // arithmetic.
    QueryDef("q90_pagerank",
      (s, d) => pageRank(
          Tables.documents(s, d).select(col("doc_id").as("id")),
          dupPairs(s, d).select("id_a", "id_b"))
        .orderBy("doc_id"),
      Some(prOracleSql(5)),
      uses = Seq(DupPairs))
  ,

    // Jaccard-WEIGHTED centrality: a document's score splits over its
    // neighbors in proportion to verified similarity, so a 0.95 exact
    // near-copy pulls more canonical-selection weight than a 0.5
    // borderline match. Identical iteration/physical shape as q90
    // (3 content-free shuffles per round); the oracle unrolls the same
    // weighted arithmetic.
    //
    // Parity margin — DOCUMENTED ACCEPTED TRADE: the weighted
    // contribution sums accumulate fractional doubles (score·w/deg) in
    // engine-chosen order, so after 5 rounds cross-engine drift is
    // O(iters · n_neighbors · ulp) ≈ 1e-13 at gate degree scales —
    // thin vs the 6-dp round but still 6+ orders below it. Per-round
    // rounding on both sides would widen the margin but couple the
    // gate to a non-standard PageRank definition; revisit only if a
    // corpus with ~1e6-degree hubs pushes drift past 1e-9.
    QueryDef("q111_pagerank_weighted",
      (s, d) => pageRank(
          Tables.documents(s, d).select(col("doc_id").as("id")),
          dupPairs(s, d).select("id_a", "id_b", "jaccard"),
          weightCol = Some("jaccard"))
        .orderBy("doc_id"),
      Some(prOracleSql(5, weighted = true)),
      uses = Seq(DupPairs)),

    // Communities over the near-dup graph: 4 sync LPA rounds with the
    // deterministic (max count, min label) tie order — all-integer, the
    // oracle unrolls identical rounds.
    QueryDef("q112_label_propagation",
      // pure readout of the [[lpaCommunities]] substrate artifact (r16)
      // — the LPA run itself is charged once per (JVM, corpus) in the
      // dup-pairs build, and q370/q371 consume the identical labels
      (s, d) => lpaCommunities(s, d).orderBy("doc_id"),
      Some(lpaOracleSql(4)),
      uses = Seq(DupPairs)),

    // Newman MODULARITY of the q112 communities (✚ — the standard
    // partition-quality readout: Q = Σ_c [e_c/m − (d_c/2m)²]; a
    // near-dup graph whose LPA communities are real duplicate groups
    // scores high, chained borderline matches drag it down). Shares
    // q112's LPA chain VERBATIM in the oracle; every count (m, e_c,
    // d_c, Σd_c²) is an exact integer/decimal aggregate, and both Q
    // expressions are one fixed-shape double formula rounded @6 —
    // in particular the TOTAL comes from Σd_c² (exact), never from
    // summing the per-community doubles (order-dependent).
    QueryDef("q370_modularity",
      (s, d) => modularity(lpaCommunities(s, d),
        dupPairs(s, d).select("id_a", "id_b")),
      Some(s"""WITH ${lpaChainSql(4)},
             |und AS (SELECT u, v FROM edges WHERE u < v),
             |mm AS (SELECT COUNT(*) AS m FROM und),
             |com AS (SELECT lbl AS community, COUNT(*) AS n_nodes
             |        FROM l4 GROUP BY 1),
             |ein AS (SELECT la.lbl AS community, COUNT(*) AS e_in
             |        FROM und JOIN l4 la ON la.node = und.u
             |        JOIN l4 lb ON lb.node = und.v AND lb.lbl = la.lbl
             |        GROUP BY 1),
             |deg AS (SELECT u AS node, COUNT(*) AS dg FROM edges GROUP BY 1),
             |dc AS (SELECT l.lbl AS community, CAST(SUM(d.dg) AS BIGINT) AS d_tot
             |       FROM deg d JOIN l4 l ON l.node = d.node GROUP BY 1),
             |per AS (SELECT c.community, c.n_nodes,
             |          CAST(COALESCE(e.e_in, 0) AS BIGINT) AS e_in,
             |          COALESCE(dc.d_tot, 0) AS d_tot
             |        FROM com c LEFT JOIN ein e USING (community)
             |        LEFT JOIN dc USING (community)),
             |tot AS (SELECT CAST(SUM(e_in) AS DOUBLE) AS se,
             |          CAST(SUM(CAST(d_tot AS DECIMAL(38,0)) * d_tot)
             |            AS DOUBLE) AS sd2
             |        FROM per)
             |SELECT per.community, per.n_nodes, per.e_in, per.d_tot,
             |  round(CAST(per.e_in AS DOUBLE) / CAST(m AS DOUBLE)
             |    - (CAST(per.d_tot AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
             |      * (CAST(per.d_tot AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))), 6)
             |    AS q_c,
             |  round(se / CAST(m AS DOUBLE)
             |    - sd2 / ((2.0 * CAST(m AS DOUBLE)) * (2.0 * CAST(m AS DOUBLE))), 6)
             |    AS modularity
             |FROM per, mm, tot ORDER BY community""".stripMargin),
      uses = Seq(DupPairs)),

    // Conductance of the q112 communities (✚ — q370's complementary
    // cut-quality readout: φ_c = cut(c) / min(vol(c), 2m − vol(c));
    // low φ = a well-separated duplicate group, high φ = a community
    // whose members mostly link OUT of it). Same LPA chain, same exact
    // integer aggregates; degenerate denominators (isolated singleton
    // communities, or a community holding ALL edge mass) emit NULL —
    // visible, matching SQL NULL propagation on both engines.
    QueryDef("q371_conductance",
      (s, d) => conductance(lpaCommunities(s, d),
        dupPairs(s, d).select("id_a", "id_b")),
      Some(s"""WITH ${lpaChainSql(4)},
             |und AS (SELECT u, v FROM edges WHERE u < v),
             |mm AS (SELECT COUNT(*) AS m FROM und),
             |com AS (SELECT lbl AS community, COUNT(*) AS n_nodes
             |        FROM l4 GROUP BY 1),
             |lbe AS (SELECT und.u, und.v, la.lbl AS ca, lb.lbl AS cb
             |        FROM und JOIN l4 la ON la.node = und.u
             |        JOIN l4 lb ON lb.node = und.v),
             |cut AS (SELECT community, COUNT(*) AS cut_edges FROM (
             |          SELECT ca AS community FROM lbe WHERE ca <> cb
             |          UNION ALL SELECT cb FROM lbe WHERE ca <> cb) t
             |        GROUP BY 1),
             |deg AS (SELECT u AS node, COUNT(*) AS dg FROM edges GROUP BY 1),
             |dc AS (SELECT l.lbl AS community, CAST(SUM(d.dg) AS BIGINT) AS volume
             |       FROM deg d JOIN l4 l ON l.node = d.node GROUP BY 1),
             |per AS (SELECT c.community, c.n_nodes,
             |          CAST(COALESCE(cut.cut_edges, 0) AS BIGINT) AS cut_edges,
             |          COALESCE(dc.volume, 0) AS volume
             |        FROM com c LEFT JOIN cut USING (community)
             |        LEFT JOIN dc USING (community))
             |SELECT community, n_nodes, cut_edges, volume,
             |  CASE WHEN LEAST(volume, 2 * m - volume) > 0 THEN
             |    round(CAST(cut_edges AS DOUBLE)
             |      / CAST(LEAST(volume, 2 * m - volume) AS DOUBLE), 6)
             |  END AS phi
             |FROM per, mm ORDER BY community""".stripMargin),
      uses = Seq(DupPairs)),

    // 3-truss of the near-dup graph (✚ — algorithm notes at
    // [[kTruss]]): edges in ≥ 1 triangle after peeling — the
    // clique-core refinement of q98/q129/q130's cohesion family over
    // the SAME verified pairs. k=3 is the discriminating cut on this
    // corpus (its 4-truss is empty: borderline matches share at most
    // one triangle); at k=3 the peel provably converges in one round
    // (removing triangle-less edges destroys no triangle), so the
    // MULTI-ROUND cascade semantics are pinned by Batch25Spec at k=4
    // on a handcrafted fan-plus-clique graph instead. The oracle
    // unrolls the peel with q98's id-ordered triangle join (a
    // different enumeration that must find the identical triangle set
    // each round); rounds beyond convergence are no-ops.
    QueryDef("q372_ktruss",
      (s, d) => kTruss(dupPairs(s, d).select("id_a", "id_b"), k = 3),
      Some(kTrussSql(3, 8)),
      uses = Seq(DupPairs)),

    // Cohesion audit of the near-dup graph: edge + triangle counts over
    // the SAME verified pairs as q51/q74/q90. Oracle: id-sorted edges,
    // a<b<c three-way self-join (one row per triangle).
    QueryDef("q98_triangle_count",
      (s, d) => triangles(dupPairs(s, d).select("id_a", "id_b")),
      Some(s"""WITH ${Dedup.verifiedPairsCtes},
             |edges AS MATERIALIZED (
             |  SELECT DISTINCT LEAST(id_a, id_b) AS a, GREATEST(id_a, id_b) AS b
             |  FROM vp WHERE id_a <> id_b)
             |SELECT
             |  (SELECT COUNT(*) FROM edges) AS n_edges,
             |  (SELECT COUNT(*)
             |   FROM edges e1
             |   JOIN edges e2 ON e2.a = e1.b
             |   JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles""".stripMargin),
      uses = Seq(DupPairs)),

    // Per-node clustering coefficient over the verified near-dup graph
    // — shares q98's edge CTE; the oracle enumerates each id-ordered
    // triangle (a < b < c) once and credits all three vertices.
    QueryDef("q129_clustering_coeff",
      (s, d) => clusteringCoefficient(dupPairs(s, d).select("id_a", "id_b"))
        .orderBy("id"),
      Some(s"""WITH ${Dedup.verifiedPairsCtes},
             |edges AS MATERIALIZED (
             |  SELECT DISTINCT LEAST(id_a, id_b) AS a, GREATEST(id_a, id_b) AS b
             |  FROM vp WHERE id_a <> id_b),
             |deg AS (SELECT id, COUNT(*) AS dg FROM (
             |          SELECT a AS id FROM edges
             |          UNION ALL SELECT b FROM edges) u GROUP BY id),
             |tri AS (SELECT id, COUNT(*) AS n_tri FROM (
             |          SELECT unnest([e1.a, e1.b, e2.b]) AS id
             |          FROM edges e1
             |          JOIN edges e2 ON e2.a = e1.b
             |          JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b) t
             |        GROUP BY id)
             |SELECT d.id, d.dg, COALESCE(tri.n_tri, 0) AS n_tri,
             |  round(CASE WHEN d.dg >= 2
             |    THEN 2 * COALESCE(tri.n_tri, 0)
             |         / CAST(d.dg * (d.dg - 1) AS DOUBLE)
             |    ELSE 0.0 END, 6) AS coeff
             |FROM deg d LEFT JOIN tri USING (id)
             |ORDER BY id""".stripMargin),
      uses = Seq(DupPairs)),

    // 2-core of the near-dup graph after 4 peel rounds (fixpoint at
    // gate scale — ComponentsSpec asserts round 5 changes nothing).
    // The oracle unrolls the same peel round by round over q51's pair
    // CTEs, like the q112 LPA unroll.
    QueryDef("q130_kcore",
      (s, d) => kCore(dupPairs(s, d).select("id_a", "id_b"))
        .orderBy("id"),
      Some {
        val rounds = (1 to 4).map { r =>
          s"""a$r AS (SELECT u FROM (
             |  SELECT u, COUNT(*) AS dg FROM e${r - 1} GROUP BY u) t
             |  WHERE dg >= 2),
             |e$r AS (SELECT e.u, e.v FROM e${r - 1} e
             |  JOIN a$r x ON x.u = e.u JOIN a$r y ON y.u = e.v)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${Dedup.verifiedPairsCtes},
           |e0 AS MATERIALIZED (
           |  SELECT DISTINCT u, v FROM (
           |    SELECT id_a AS u, id_b AS v FROM vp
           |    UNION ALL SELECT id_b, id_a FROM vp) s
           |  WHERE u <> v),
           |$rounds
           |SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS dg
           |FROM e4 GROUP BY u ORDER BY id""".stripMargin
      },
      uses = Seq(DupPairs)),

    // Multi-source BFS hop distance (✚, the crawl-frontier / blast-
    // radius kernel: how many near-dup hops separate each document
    // from a trusted seed set — the graph analog of q75's exact-match
    // decontamination, catching transitively-connected contamination
    // that no pairwise check sees). Synchronous relaxation, 4 unrolled
    // rounds over the SAME verified pair table as q90/q112/q130: each
    // round one join (dist ⋈ edges) + one min-aggregate on 8-byte
    // keys, iterate-materialize pinning lineage per round — the CC
    // 3-shuffle discipline, O(diameter) rounds. The oracle unrolls the
    // identical rounds (AS MATERIALIZED, the q90 lesson). Unreached
    // nodes surface as -1, never NULL.
    QueryDef("q176_bfs_hops",
      (s, d) => {
        val docs = Tables.documents(s, d)
        bfsHops(docs.select(col("doc_id").as("id")),
            dupPairs(s, d).select("id_a", "id_b"),
            pmod(col("node"), lit(29)) === 0)
          .select(col("node").as("doc_id"),
            when(col("dist") >= 999L, lit(-1L)).otherwise(col("dist")).as("hops"))
          .orderBy("doc_id")
      },
      Some {
        val rounds = (1 to 4).map { k =>
          s"""d$k AS MATERIALIZED (
             |  SELECT c.node, LEAST(c.dist, COALESCE(MIN(p.dist + 1), 999)) AS dist
             |  FROM d${k - 1} c
             |  LEFT JOIN edges e ON e.v = c.node
             |  LEFT JOIN d${k - 1} p ON p.node = e.u
             |  GROUP BY c.node, c.dist)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${Dedup.verifiedPairsCtes},
           |edges AS MATERIALIZED (
           |  SELECT DISTINCT u, v FROM (
           |    SELECT id_a AS u, id_b AS v FROM vp
           |    UNION ALL SELECT id_b, id_a FROM vp) s
           |  WHERE u <> v),
           |d0 AS MATERIALIZED (
           |  SELECT doc_id AS node,
           |    CASE WHEN doc_id % 29 = 0 THEN 0 ELSE 999 END AS dist
           |  FROM documents),
           |$rounds
           |SELECT node AS doc_id,
           |  CASE WHEN dist >= 999 THEN -1 ELSE dist END AS hops
           |FROM d4 ORDER BY doc_id""".stripMargin
      },
      uses = Seq(DupPairs)),

    // Per-seed eccentricity / diameter lower bound (✚, the graph-shape
    // audit q176's single frontier can't give: how DEEP are the near-dup
    // components, not just who is reachable): the 3 smallest edge
    // endpoints seed 3 INDEPENDENT BFS frontiers, run simultaneously by
    // keying distance on (seed, node) — the multi-rank selectKths idea
    // applied to graphs: one relax join + one (seed, v) min-aggregate
    // per round for ALL seeds, 4 unrolled rounds over the shared
    // verified pair table. Eccentricity = max finite hop distance per
    // seed (bounded by the round budget — the documented audit window);
    // max over seeds is a diameter lower bound. Scale: state is
    // seeds×nodes 8-byte-key rows; the seed dimension multiplies the
    // relax join's output, not the edge table.
    QueryDef("q209_eccentricity",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = dupPairs(s, d).select("id_a", "id_b")
        val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
          .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
          .where(col("u") =!= col("v")).distinct().transform(pin)
        val seeds = broadcast(edges.select(col("u").as("seed"))
          .distinct().orderBy("seed").limit(3))
        var dist = docs.select(col("doc_id").as("node"))
          .crossJoin(seeds)
          .withColumn("dist",
            when(col("node") === col("seed"), lit(0L)).otherwise(lit(999L)))
          .transform(pin)
        for (_ <- 1 to 4) {
          val relax = dist.join(edges, dist("node") === edges("u"))
            .groupBy(col("seed").as("seed2"), col("v").as("node2"))
            .agg(min(col("dist") + lit(1L)).as("via"))
          dist = dist.join(relax,
              dist("seed") === col("seed2") && dist("node") === col("node2"),
              "left")
            .select(col("seed"), col("node"),
              least(col("dist"), coalesce(col("via"), lit(999L))).as("dist"))
            .transform(pin)
        }
        dist.where(col("dist") < 999L)
          .groupBy(col("seed").as("seed_id"))
          .agg(count(lit(1)).as("n_reached"), max(col("dist")).as("ecc"))
          .orderBy("seed_id")
      },
      Some {
        val rounds = (1 to 4).map { k =>
          s"""d$k AS MATERIALIZED (
             |  SELECT c.seed, c.node,
             |    LEAST(c.dist, COALESCE(MIN(p.dist + 1), 999)) AS dist
             |  FROM d${k - 1} c
             |  LEFT JOIN edges e ON e.v = c.node
             |  LEFT JOIN d${k - 1} p ON p.seed = c.seed AND p.node = e.u
             |  GROUP BY c.seed, c.node, c.dist)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${Dedup.verifiedPairsCtes},
           |edges AS MATERIALIZED (
           |  SELECT DISTINCT u, v FROM (
           |    SELECT id_a AS u, id_b AS v FROM vp
           |    UNION ALL SELECT id_b, id_a FROM vp) s
           |  WHERE u <> v),
           |seeds AS MATERIALIZED (
           |  SELECT DISTINCT u AS seed FROM edges ORDER BY u LIMIT 3),
           |d0 AS MATERIALIZED (
           |  SELECT s.seed, d.doc_id AS node,
           |    CASE WHEN d.doc_id = s.seed THEN 0 ELSE 999 END AS dist
           |  FROM documents d, seeds s),
           |$rounds
           |SELECT seed AS seed_id,
           |  CAST(COUNT(*) AS BIGINT) AS n_reached,
           |  CAST(MAX(dist) AS BIGINT) AS ecc
           |FROM d4 WHERE dist < 999
           |GROUP BY seed ORDER BY seed_id""".stripMargin
      },
      uses = Seq(DupPairs)),

    // Fuzzy entity resolution end-to-end (✚, the composition the JW
    // scorer exists FOR — q58/q214 emit pairs, a resolver needs
    // ENTITIES): blocked Jaro-Winkler >= 0.94 pairs over part names →
    // connected components (pointer-jumping min-label, the q74
    // machinery) → one canonical record per multi-member cluster
    // (deterministic: the minimum member id names the cluster). The
    // oracle rebuilds the identical clusters with a recursive CTE over
    // DuckDB's own jaro_winkler_similarity pairs — two engines, two
    // closure algorithms, hash-equal entity tables. Scale: pairs are
    // block-bounded, CC shuffles 8-byte labels in O(log diameter)
    // rounds, the canonical join is keyed by cluster id.
    QueryDef("q219_er_pipeline",
      (s, d) => {
        val p = Tables.part(s, d).select(
          col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
        val a = p.select(col("p_brand"), col("p_size"),
          col("p_partkey").as("id_a"), col("p_name").as("name_a"))
        val b = p.select(col("p_brand"), col("p_size"),
          col("p_partkey").as("id_b"), col("p_name").as("name_b"))
        val pairs = a.join(b, Seq("p_brand", "p_size"))
          .where(col("id_a") < col("id_b") &&
            // q214's provable length prefilter (jw>=0.94 ⟹ 10·min>=7·max)
            least(length(col("name_a")), length(col("name_b"))) * 10 >=
              greatest(length(col("name_a")), length(col("name_b"))) * 7)
          .where(round(graft.functions.JaroWinkler(col("name_a"), col("name_b")), 6)
            >= 0.94)
          .select("id_a", "id_b")
        val labels = connectedComponents(
          p.select(col("p_partkey").as("id")), pairs)
        val clusters = labels.groupBy(col("lbl").as("canonical_id"))
          .agg(count(lit(1)).as("cluster_size"))
          .where(col("cluster_size") >= 2)
        clusters.join(p.select(col("p_partkey").as("canonical_id"),
            col("p_name").as("canonical_name")), "canonical_id")
          .select("canonical_id", "cluster_size", "canonical_name")
          .orderBy("canonical_id")
      },
      Some("""WITH RECURSIVE vp2 AS (
             |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
             |  FROM part a JOIN part b
             |    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
             |    AND a.p_partkey < b.p_partkey
             |  WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
             |    >= 0.94),
             |edges AS (SELECT id_a AS u, id_b AS v FROM vp2
             |          UNION ALL SELECT id_b, id_a FROM vp2),
             |reach(node, lbl) AS (
             |  SELECT p_partkey, p_partkey FROM part
             |  UNION
             |  SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node),
             |lab AS (SELECT node, MIN(lbl) AS canonical_id
             |        FROM reach GROUP BY node),
             |cs AS (SELECT canonical_id, COUNT(*) AS cluster_size
             |       FROM lab GROUP BY canonical_id HAVING COUNT(*) >= 2)
             |SELECT cs.canonical_id, cs.cluster_size,
             |  part.p_name AS canonical_name
             |FROM cs JOIN part ON part.p_partkey = cs.canonical_id
             |ORDER BY cs.canonical_id""".stripMargin)),

    // Dedup-threshold sensitivity curve (✚, the knob-tuning report a
    // curator reads before committing a similarity cutoff: how do
    // cluster count, clustered-document mass, and the largest cluster
    // move as the Jaccard threshold sweeps 0.5 → 0.7 → 0.9? A cliff
    // between two thresholds means the corpus has a near-dup plateau
    // there — exactly what the single-threshold gates can't show).
    // The expensive part — candidate generation + verification — runs
    // ONCE (the shared q51 pair pipeline, jaccard kept); each
    // threshold then only filters the verified pair set and reruns
    // the pointer-doubling CC over it, O(log diameter) rounds on
    // 8-byte keys per threshold. The oracle mirrors with one
    // recursive-CTE closure per threshold over the SAME vp CTE chain.
    QueryDef("q259_threshold_curve",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val ids = docs.select(col("doc_id").as("id"))
        // parquet-backed substrate — already pinned, no checkpoint needed
        val pairs = dupPairs(s, d)
        val rows = Seq(0.5, 0.7, 0.9).map { t =>
          val edges = pairs.where(col("jaccard") >= t).select("id_a", "id_b")
          val nPairs = edges.count()
          val clusters = connectedComponents(ids, edges)
            .groupBy("lbl").agg(count(lit(1)).as("sz"))
            .where(col("sz") >= 2)
            .agg(coalesce(count(lit(1)), lit(0L)),
              coalesce(sum(col("sz")), lit(0L)),
              coalesce(max(col("sz")), lit(0L))).first()
          (t, nPairs, clusters.getLong(0), clusters.getLong(1),
            clusters.getLong(2))
        }
        rows.toDF("threshold", "n_pairs", "n_clusters", "n_clustered_docs",
          "largest_cluster").orderBy("threshold")
      },
      Some {
        // one recursive closure per threshold, all hoisted into the ONE
        // top-level WITH RECURSIVE (the q219 pattern — DuckDB allows
        // recursive and plain CTEs mixed there)
        def ctes(i: Int, t: String) =
          s"""e$i AS (
             |  SELECT id_a AS u, id_b AS v FROM vp WHERE jaccard >= $t
             |  UNION ALL
             |  SELECT id_b, id_a FROM vp WHERE jaccard >= $t),
             |reach$i(node, lbl) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT e$i.v, r.lbl FROM reach$i r JOIN e$i ON e$i.u = r.node),
             |cl$i AS (
             |  SELECT lbl, COUNT(*) AS sz FROM (
             |    SELECT node, MIN(lbl) AS lbl FROM reach$i GROUP BY node) lab
             |  GROUP BY lbl HAVING COUNT(*) >= 2)""".stripMargin
        def arm(i: Int, t: String) =
          s"""SELECT CAST($t AS DOUBLE) AS threshold,
             |  (SELECT COUNT(*) FROM vp WHERE jaccard >= $t) AS n_pairs,
             |  COUNT(*) AS n_clusters,
             |  COALESCE(CAST(SUM(sz) AS BIGINT), 0) AS n_clustered_docs,
             |  COALESCE(CAST(MAX(sz) AS BIGINT), 0) AS largest_cluster
             |FROM cl$i""".stripMargin
        val ts = Seq("0.5", "0.7", "0.9")
        s"""WITH RECURSIVE ${Dedup.verifiedPairsCtes},
           |${ts.zipWithIndex.map { case (t, i) => ctes(i, t) }.mkString(",\n")}
           |${ts.zipWithIndex.map { case (t, i) => arm(i, t) }.mkString("\nUNION ALL\n")}
           |ORDER BY threshold""".stripMargin
      },
      uses = Seq(DupPairs)),

    // Degree assortativity of the near-dup graph (✚, the graph-SHAPE
    // number q129/q130's local metrics don't give: do high-degree
    // documents link to other high-degree documents (r > 0, hub
    // cores — boilerplate families) or to leaves (r < 0, star
    // topology — one template spawning variants)? The answer decides
    // whether cluster canonicalization will produce a few giant
    // clusters or many small ones). r is the Pearson correlation of
    // endpoint degrees over the symmetrized edge list: degrees from
    // one count, two 8-byte-key joins to attach them, and the five
    // moment sums in exact DECIMAL(38) (the q236 lift — degree
    // products overflow BIGINT sums near 10⁹ edges); the combination
    // runs in token-identical double shape, round@6.
    QueryDef("q266_assortativity",
      (s, d) => {
        val pairs = dupPairs(s, d).select("id_a", "id_b")
        val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
          .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
          .where(col("u") =!= col("v")).distinct().transform(pin)
        val deg = edges.groupBy(col("u").as("node"))
          .agg(count(lit(1)).as("dg"))
        val withDeg = edges
          .join(deg.select(col("node").as("u"), col("dg").as("du")), "u")
          .join(deg.select(col("node").as("v"), col("dg").as("dv")), "v")
        def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
        val m = withDeg.agg(count(lit(1)).cast("decimal(19,0)").as("m"),
          sum(d19(col("du"))).as("sx"), sum(d19(col("dv"))).as("sy"),
          sum(d19(col("du")) * d19(col("dv"))).as("sxy"),
          sum(d19(col("du")) * d19(col("du"))).as("sxx"),
          sum(d19(col("dv")) * d19(col("dv"))).as("syy"))
        def dd(c: String) = col(c).cast("double")
        m.select(col("m").cast("long").as("m_edges"),
          round((dd("m") * dd("sxy") - dd("sx") * dd("sy")) /
            (sqrt(dd("m") * dd("sxx") - dd("sx") * dd("sx")) *
              sqrt(dd("m") * dd("syy") - dd("sy") * dd("sy"))),
            6).as("assortativity"))
      },
      Some(s"""WITH ${Dedup.verifiedPairsCtes},
             |edges AS MATERIALIZED (
             |  SELECT DISTINCT u, v FROM (
             |    SELECT id_a AS u, id_b AS v FROM vp
             |    UNION ALL SELECT id_b, id_a FROM vp) s
             |  WHERE u <> v),
             |deg AS (SELECT u AS node, COUNT(*) AS dg FROM edges GROUP BY 1),
             |wd AS (
             |  SELECT da.dg AS du, db.dg AS dv FROM edges e
             |  JOIN deg da ON da.node = e.u JOIN deg db ON db.node = e.v),
             |m AS (
             |  SELECT CAST(COUNT(*) AS DECIMAL(19,0)) AS m,
             |    SUM(CAST(du AS DECIMAL(19,0))) AS sx,
             |    SUM(CAST(dv AS DECIMAL(19,0))) AS sy,
             |    SUM(CAST(du AS DECIMAL(19,0)) * CAST(dv AS DECIMAL(19,0)))
             |      AS sxy,
             |    SUM(CAST(du AS DECIMAL(19,0)) * CAST(du AS DECIMAL(19,0)))
             |      AS sxx,
             |    SUM(CAST(dv AS DECIMAL(19,0)) * CAST(dv AS DECIMAL(19,0)))
             |      AS syy
             |  FROM wd)
             |SELECT CAST(m AS BIGINT) AS m_edges,
             |  round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |    (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
             |     sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
             |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             |    AS assortativity
             |FROM m""".stripMargin),
      uses = Seq(DupPairs)),

    // Bounded-hop cheapest path — Bellman–Ford, 4 synchronous
    // relaxation rounds (✚, the WEIGHTED upgrade of q176's BFS: "how
    // strongly is each part tied to the seed assortment", where a hop
    // through a frequently-co-bought pair is cheaper than through a
    // rare one). Graph: q200's basket-capped co-purchase pairs
    // (k ≤ 20, so pair-gen cost is Σ C(k,2), never n²), edge cost the
    // INTEGER 1000000 div w — min-plus arithmetic stays exact BIGINT
    // end-to-end, so the iterated min over engine-different reduction
    // orders is still bit-identical (doubles never enter). Per round:
    // one equality join (dist ⋈ edges on 8-byte keys) + one min-
    // aggregate + iterate-materialize — the q176/q209 discipline,
    // O(#rounds) shuffles of O(nodes) rows. INF = 10^15 sentinel:
    // big enough that INF + 4·10^6 can't wrap or undercut a real
    // 4-hop cost, small enough to stay in BIGINT; unreached parts
    // report -1, never NULL.
    QueryDef("q233_bounded_path",
      (s, d) => {
        val INF = 1000000000000000L
        val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey").distinct()
        val sizes = li.groupBy("l_orderkey").agg(count(lit(1)).as("k"))
        val small = li.join(sizes.where(col("k") <= 20), "l_orderkey")
        val a = small.select(col("l_orderkey"), col("l_partkey").as("pa"))
        val b = small.select(col("l_orderkey"), col("l_partkey").as("pb"))
        val pairs = a.join(b, "l_orderkey").where(col("pa") < col("pb"))
          .groupBy("pa", "pb").agg(count(lit(1)).as("w"))
          .where(col("w") >= 2)
          .withColumn("cost", expr("1000000 div w"))
        val edges = pairs.select(col("pa").as("u"), col("pb").as("v"), col("cost"))
          .unionByName(pairs.select(col("pb").as("u"), col("pa").as("v"), col("cost")))
          .transform(pin)
        var dist = Tables.part(s, d).select(col("p_partkey").as("node"))
          .withColumn("dist",
            when(pmod(col("node"), lit(37)) === 0, lit(0L)).otherwise(lit(INF)))
          .transform(pin)
        for (_ <- 1 to 4) {
          val relax = dist.join(edges, dist("node") === edges("u"))
            .groupBy(col("v").as("node2"))
            .agg(min(col("dist") + col("cost")).as("via"))
          dist = dist.join(relax, dist("node") === col("node2"), "left")
            .select(col("node"),
              least(col("dist"), coalesce(col("via"), lit(INF))).as("dist"))
            .transform(pin)
        }
        dist.select(col("node").as("p_partkey"),
            when(col("dist") >= INF, lit(-1L)).otherwise(col("dist")).as("cost4"))
          .orderBy("p_partkey")
      },
      Some {
        val rounds = (1 to 4).map { k =>
          s"""d$k AS MATERIALIZED (
             |  SELECT c.node,
             |    LEAST(c.dist, COALESCE(MIN(p.dist + e.cost), 1000000000000000))
             |      AS dist
             |  FROM d${k - 1} c
             |  LEFT JOIN edges e ON e.v = c.node
             |  LEFT JOIN d${k - 1} p ON p.node = e.u
             |  GROUP BY c.node, c.dist)""".stripMargin
        }.mkString(",\n")
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |sizes AS (SELECT l_orderkey, COUNT(*) AS k FROM li GROUP BY 1),
           |small AS (SELECT li.l_orderkey, li.l_partkey FROM li
           |  JOIN sizes ON li.l_orderkey = sizes.l_orderkey AND sizes.k <= 20),
           |pairs AS (
           |  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
           |    1000000 // COUNT(*) AS cost
           |  FROM small a JOIN small b
           |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           |edges AS MATERIALIZED (
           |  SELECT pa AS u, pb AS v, cost FROM pairs
           |  UNION ALL SELECT pb, pa, cost FROM pairs),
           |d0 AS MATERIALIZED (
           |  SELECT p_partkey AS node,
           |    CASE WHEN p_partkey % 37 = 0 THEN 0
           |         ELSE 1000000000000000 END AS dist
           |  FROM part),
           |$rounds
           |SELECT node AS p_partkey,
           |  CASE WHEN dist >= 1000000000000000 THEN -1 ELSE dist END AS cost4
           |FROM d4 ORDER BY p_partkey""".stripMargin
      }),

    // Personalized PageRank from a seed set (✚, the "similar to THESE
    // documents" centrality behind graph-based retrieval and
    // recommend-from-examples: q90 ranks globally; PPR teleports to
    // the seed set, so scores measure proximity TO THE SEEDS through
    // the near-dup graph). Same per-round physical shape as q90 —
    // one equality join on symmetrized 8-byte edges, one map-side-
    // combined contribution sum, dangling mass via a 1-row broadcast —
    // with the restart vector 1/|seeds| on seeds (doc_id % 100 == 0)
    // and 0 elsewhere; dangling mass also teleports to seeds (the
    // standard PPR formulation). Same accepted float-drift trade as
    // q90/q111 (round@6 out, drift ~1e-13 at gate degrees).
    QueryDef("q313_personalized_pagerank",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = dupPairs(s, d).select("id_a", "id_b")
        val edges = pin(
          pairs.select(col("id_a").as("u"), col("id_b").as("v"))
            .unionByName(pairs.select(col("id_b").as("u"),
              col("id_a").as("v"))))
        val deg = pin(edges.groupBy("u")
          .agg(count(lit(1)).cast("double").as("deg")))
        val base = pin(docs.select(col("doc_id").as("node"),
          (col("doc_id") % 100 === 0).as("seed")))
        val ns = base.where(col("seed")).count().toDouble
        val restart = when(col("seed"), lit(1.0 / ns)).otherwise(lit(0.0))
        var scores = pin(base.withColumn("score", restart))
        for (_ <- 1 to 5) {
          val contrib = scores
            .join(edges, scores("node") === edges("u"))
            .join(deg, "u")
            .select(col("v").as("node"), (col("score") / col("deg")).as("c"))
            .groupBy("node").agg(sum(col("c")).as("inc"))
          val dangling = scores
            .join(deg.select(col("u").as("node")), Seq("node"), "left_anti")
            .agg(coalesce(sum(col("score")), lit(0.0)).as("dm"))
          scores = pin(base
            .join(contrib, Seq("node"), "left")
            .crossJoin(broadcast(dangling))
            .select(col("node"), col("seed"),
              (lit(0.85) * (coalesce(col("inc"), lit(0.0)) +
                col("dm") * restart) + lit(0.15) * restart).as("score")))
        }
        scores.select(col("node").as("doc_id"),
            round(col("score"), 6).as("score"))
          .where(col("score") > 0.0)
          .orderBy("doc_id")
      },
      Some {
        val levels = (0 until 5).map { k =>
          s"""d$k AS MATERIALIZED (
             |  SELECT COALESCE(SUM(score), 0) AS dm FROM p$k
             |  WHERE node NOT IN (SELECT u FROM deg)),
             |p${k + 1} AS MATERIALIZED (
             |  SELECT n.node, n.r,
             |    0.85 * (COALESCE(i.s, 0) + (SELECT dm FROM d$k) * n.r)
             |      + 0.15 * n.r AS score
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.v AS node, SUM(p.score / g.deg) AS s
             |    FROM p$k p JOIN edges e ON e.u = p.node
             |    JOIN deg g ON g.u = p.node
             |    GROUP BY e.v) i ON i.node = n.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${Dedup.verifiedPairsCtes},
           |ns AS MATERIALIZED (
           |  SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM documents
           |  WHERE doc_id % 100 = 0),
           |nodes AS MATERIALIZED (
           |  SELECT doc_id AS node,
           |    CASE WHEN doc_id % 100 = 0
           |      THEN 1.0 / (SELECT ns FROM ns) ELSE 0.0 END AS r
           |  FROM documents),
           |edges AS MATERIALIZED (
           |  SELECT id_a AS u, id_b AS v FROM vp
           |  UNION ALL SELECT id_b, id_a FROM vp),
           |deg AS MATERIALIZED (
           |  SELECT u, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges
           |  GROUP BY u),
           |p0 AS MATERIALIZED (SELECT node, r, r AS score FROM nodes),
           |$levels
           |SELECT node AS doc_id, ROUND(score, 6) AS score FROM p5
           |WHERE ROUND(score, 6) > 0.0
           |ORDER BY doc_id""".stripMargin
      },
      uses = Seq(DupPairs)),

    // Grid-blocked DBSCAN (✚, density clustering — the family's gap:
    // q63/q193 partition space by LEARNED centroids, q74/q112 cluster
    // an EXPLICIT edge set; DBSCAN discovers arbitrary-shape clusters
    // from density alone, the standard tool for "find the coherent
    // blobs and the outliers" over an embedding projection). Points =
    // the first two embedding dims; ε-neighbor pairs come from a GRID
    // self-join — cell width exactly ε, so every true pair is in the
    // same or an adjacent cell (|Δx| ≤ ε ⇒ one cell apart at most)
    // and each candidate pair is generated ONCE (one probe side
    // explodes to its 3×3 neighborhood, the build side stays put).
    // Cores (≥ minPts−1 neighbors) link into clusters via the q74
    // pointer-doubling CC; borders adopt the MIN neighboring core
    // label; the rest is noise.
    //
    // Scale: the grid join costs Σ_cell |cell|·|3×3 nbhd| — the ε-ball
    // blocking bound, NEVER n² (the oracle below is the brute-force
    // n² twin precisely to certify the blocking loses no pair); a hot
    // cell is a hot join key AQE skew-splits. CC runs on the CORE
    // subgraph only. Determinism: squared distance round@9 before the
    // ε² cut (identical IEEE ops both engines — the q30 rule), MIN
    // label election everywhere.
    QueryDef("q345_dbscan_grid",
      (s, d) => dbscan(Tables.embeddings(s, d)
          .select(col("vec_id").as("id"),
            element_at(col("embedding"), 1).cast("double").as("x"),
            element_at(col("embedding"), 2).cast("double").as("y")),
          eps = 0.05, eps2 = 0.0025, minPts = 5)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id"),
      Some("""WITH RECURSIVE e AS (
             |  SELECT vec_id AS id, CAST(embedding[1] AS DOUBLE) AS x,
             |    CAST(embedding[2] AS DOUBLE) AS y
             |  FROM embeddings),
             |p AS MATERIALIZED (
             |  SELECT a.id AS ia, b.id AS ib
             |  FROM e a JOIN e b ON a.id <> b.id
             |  WHERE round((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y), 9)
             |    <= 0.0025),
             |core AS MATERIALIZED (
             |  SELECT ia AS id FROM p GROUP BY ia HAVING COUNT(*) >= 4),
             |ce AS (
             |  SELECT p.ia AS u, p.ib AS v FROM p
             |  WHERE p.ia IN (SELECT id FROM core)
             |    AND p.ib IN (SELECT id FROM core)),
             |reach(node, lbl) AS (
             |  SELECT id, id FROM core
             |  UNION
             |  SELECT ce.v, r.lbl FROM reach r JOIN ce ON ce.u = r.node),
             |lab AS (SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node),
             |bord AS (
             |  SELECT p.ia AS id, MIN(l.lbl) AS lbl
             |  FROM p JOIN lab l ON p.ib = l.node
             |  WHERE p.ia NOT IN (SELECT id FROM core)
             |  GROUP BY p.ia)
             |SELECT id AS vec_id, role, cluster FROM (
             |  SELECT c.id, 'core' AS role, l.lbl AS cluster
             |  FROM core c JOIN lab l ON l.node = c.id
             |  UNION ALL
             |  SELECT id, 'border', lbl FROM bord
             |  UNION ALL
             |  SELECT id, 'noise', CAST(-1 AS BIGINT) FROM e
             |  WHERE id NOT IN (SELECT id FROM core)
             |    AND id NOT IN (SELECT id FROM bord))
             |ORDER BY vec_id""".stripMargin)),

    // Borůvka minimum-spanning-forest over the verified near-dup graph
    // (✚, the distributed-MST algorithm itself — the one classic
    // parallel graph algorithm the q74–q313 family lacks, and the
    // scaffold single-linkage/HDBSCAN clustering builds on). Vertices
    // = all documents, edges = q51's verified near-dup pairs weighted
    // by dissimilarity w = round(1 − jaccard, 6); the MST of each dup
    // cluster is its minimum-redundancy retention tree — n_nodes−1
    // cheapest relations that keep the cluster connected, the
    // structure an archiver keeps when it prunes the rest. Dup
    // clusters are small by construction, so the O(log max-cluster)
    // round count is 3–4 — Borůvka's round bound depends on component
    // size, NOT corpus size, which is why the gate runs it on the
    // dedup graph rather than the (diameter-unbounded) ε-graph.
    //
    // Oracle independence: an unrolled Prim — per component root, a
    // recursive CTE grows the frontier one LATERAL argmin at a time.
    // Different algorithm, same per-component edge-weight multiset
    // (the MST exchange property), so n_edges/mst_w must agree even
    // where tie-broken trees differ.
    QueryDef("q348_mst_clusters",
      (s, d) => {
        mstForestStats(DupMst.read(s, d, "mst"), DupMst.read(s, d, "labels"))
          .orderBy("root")
      },
      Some(s"""WITH RECURSIVE ${Dedup.verifiedPairsCtes},
             |ed AS MATERIALIZED (
             |  SELECT id_a AS a, id_b AS b, MIN(round(1.0 - jaccard, 6)) AS w
             |  FROM vp GROUP BY 1, 2),
             |sym AS MATERIALIZED (
             |  SELECT a AS u, b AS v, w FROM ed
             |  UNION ALL SELECT b, a, w FROM ed),
             |reach(node, lbl) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT s.v, r.lbl FROM reach r JOIN sym s ON s.u = r.node),
             |lab AS (SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node),
             |roots AS MATERIALIZED (SELECT lbl AS root FROM lab GROUP BY lbl),
             |prim(root, step, sel, w) AS (
             |  SELECT root, 1, [root], CAST(0 AS DECIMAL(28,9)) FROM roots
             |  UNION ALL
             |  SELECT p.root, p.step + 1, list_append(p.sel, nx.v),
             |    p.w + CAST(nx.w AS DECIMAL(28,9))
             |  FROM prim p JOIN LATERAL (
             |    SELECT s.v, s.w FROM sym s
             |    WHERE list_contains(p.sel, s.u)
             |      AND NOT list_contains(p.sel, s.v)
             |    ORDER BY s.w, s.u, s.v LIMIT 1) nx ON true)
             |SELECT root, CAST(step AS BIGINT) AS n_nodes,
             |  CAST(step - 1 AS BIGINT) AS n_edges, CAST(w AS DOUBLE) AS mst_w
             |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY root
             |        ORDER BY step DESC) AS rn FROM prim)
             |WHERE rn = 1 ORDER BY root""".stripMargin),
      uses = Seq(DupMst)),

    // Single-linkage dendrogram levels over the near-dup MST (✚, the
    // extraction step q348's scaffold was built FOR: HDBSCAN/SLINK-
    // style hierarchy readout — "how do dup clusters merge as the
    // similarity bar loosens?"). The Spark side computes the Borůvka
    // MST ONCE and components the TREE at three cut heights (the
    // Kruskal invariant: MST edges ≤ t are an MST forest of the full
    // ≤t-subgraph, so the tree's components at t ARE the single-
    // linkage clusters at t); the ORACLE never sees the MST — it runs
    // reachability over the FULL ≤t edge set per cut. Different
    // algorithm, different edge set, provably identical partition —
    // the strongest cross-check in the clustering family. Cut heights
    // straddle the measured sf0.01 weight distribution (w = 1−jaccard
    // ∈ [0.011, 0.1]): 0.02 splits tight dups, 0.035 the median mass,
    // 0.2 keeps every verified pair.
    //
    // Scale: the per-cut CC runs on the n−1-edge TREE, not the edge
    // set — k dendrogram levels cost k tiny component runs after one
    // MST; the oracle's full-edge-set reachability is the sf0.01-only
    // twin certifying the shortcut loses nothing.
    QueryDef("q353_dendrogram_cut",
      (s, d) => {
        singleLinkageCuts(DupMst.read(s, d, "mst"), Seq(0.02, 0.035, 0.2))
      },
      Some(s"""WITH RECURSIVE ${Dedup.verifiedPairsCtes},
             |ed AS MATERIALIZED (
             |  SELECT id_a AS a, id_b AS b, MIN(round(1.0 - jaccard, 6)) AS w
             |  FROM vp GROUP BY 1, 2),
             |cuts AS (SELECT unnest([0.02, 0.035, 0.2]::DOUBLE[]) AS cut),
             |sym AS MATERIALIZED (
             |  SELECT cut, a AS u, b AS v FROM ed, cuts WHERE w <= cut
             |  UNION ALL
             |  SELECT cut, b, a FROM ed, cuts WHERE w <= cut),
             |ids AS (SELECT DISTINCT cut, u AS id FROM sym),
             |reach(cut, node, lbl) AS (
             |  SELECT cut, id, id FROM ids
             |  UNION
             |  SELECT s.cut, s.v, r.lbl
             |  FROM reach r JOIN sym s ON s.cut = r.cut AND s.u = r.node),
             |lab AS (SELECT cut, node, MIN(lbl) AS lbl FROM reach GROUP BY 1, 2),
             |cs AS (SELECT cut, lbl, COUNT(*) AS sz FROM lab GROUP BY 1, 2),
             |g AS (
             |  SELECT cut, COUNT(*) AS n_clusters,
             |    CAST(SUM(sz) AS BIGINT) AS n_docs,
             |    CAST(MAX(sz) AS BIGINT) AS max_size
             |  FROM cs GROUP BY cut)
             |SELECT cuts.cut, COALESCE(g.n_clusters, 0) AS n_clusters,
             |  COALESCE(g.n_docs, 0) AS n_docs,
             |  COALESCE(g.max_size, 0) AS max_size
             |FROM cuts LEFT JOIN g USING (cut)
             |ORDER BY cut""".stripMargin),
      uses = Seq(DupMst)),

    // HDBSCAN over the embeddings' 2-D density landscape (✚, VERDICT
    // r13 next-round #6 — the capstone the Borůvka→single-linkage
    // scaffold was built toward): grid-blocked ε-pairs (q345's blocking,
    // shared via gridEpsPairs) → Borůvka MST → the level-encoded
    // k-level label pass → discrete condensed-tree stability selection (algorithm
    // notes at [[hdbscanClusters]]). The λ grid is in SQUARED distance
    // with exact integer densities (1/0.0004 = 2500 …), so stability is
    // pure BIGINT arithmetic — no float in the hash. minSize = 5
    // matches q345's minPts: the two gates read the SAME landscape, one
    // as flat ε-density clusters, one as a persistence hierarchy.
    //
    // Oracle independence: the oracle never sees the MST OR the grid —
    // it recomputes every level's partition by reachability over the
    // full O(n²)-scanned ≤t pair set (the q353 cross-check, ×4 levels),
    // then runs the same condensed-tree algebra in unrolled CTEs. The
    // partitions must agree via the Kruskal invariant; everything
    // downstream is exact integers on cluster-count-sized tables.
    //
    // Scale: pair generation is the grid join (never all-pairs), the
    // MST is log-round Borůvka, the k levels ride ONE contraction-CC, and
    // the condensed-tree algebra runs on instance tables orders smaller
    // than the corpus. ScaleLawSpec holds it to the linear record/pin
    // laws at ×3.
    QueryDef("q358_hdbscan",
      // readout of the cached condensed-tree substrate (r18 — VERDICT
      // r17 #1): one sel⋈cl join over the persisted tree; the build is
      // charged once as Bench's eps_tree line
      (s, d) => hdbscanReadout(EpsTree.read(s, d, "sel"),
        EpsTree.read(s, d, "cl"), HdbCuts),
      Some(HdbscanSqlBase + "\n" + HdbscanSelectSql),
      uses = Seq(EpsTree)),

    // HDBSCAN as PUBLISHED (✚, VERDICT r14 next-round #3): q358's
    // ladder runs single linkage over RAW ε-distances; the literature
    // algorithm defines the hierarchy over MUTUAL-REACHABILITY distance
    // max(core_k(a), core_k(b), d(a,b)) with minPts-core distances, so
    // low-density chains can't single-link dense blobs together. Same
    // substrate discipline as q358: grid candidates → core-distance
    // window → Borůvka MST → ONE level-encoded label pass, cached per
    // (JVM, corpus); the gate reads the condensed-tree stability
    // selection. The oracle re-derives core distances EXACTLY (a
    // row_number window over the same O(n²)-scanned pair table), then
    // reruns full-graph reachability per level and the identical
    // unrolled tree algebra — partitions must agree via the Kruskal
    // invariant on the mutual-reachability graph.
    QueryDef("q360_hdbscan_mreach",
      // readout of the cached mr condensed-tree substrate (r18)
      (s, d) => hdbscanReadout(MrTree.read(s, d, "sel"),
        MrTree.read(s, d, "cl"), HdbCuts),
      Some(MreachSqlBase + "\n" + HdbscanSelectSql),
      uses = Seq(MrTree)),

    // Soft cluster-membership probabilities (✚ — the fourth readout of
    // the shared ε-slink condensed tree, algorithm notes at
    // [[softMembershipsFromLabels]]): q358 selects the clusters, q359
    // scores outliers, THIS gate assigns each point to its unique
    // selected ancestor with λ_attach/λ_max(selected subtree) in exact
    // ppm integers. Zero new corpus passes — the substrate is the same
    // cached label frame, and the oracle composes the q358 selection
    // CTEs and the q359 attachment CTEs TEXTUALLY (both shared
    // verbatim) plus an unrolled selected-ancestor resolution, so the
    // three gates cannot disagree on what the tree is.
    QueryDef("q362_soft_membership",
      // readout of the cached condensed-tree substrate (r18): the
      // att⋈sela⋈dm chain over persisted frames
      (s, d) => softMembershipReadout(EpsTree.read(s, d, "att"),
          EpsTree.read(s, d, "sela"), EpsTree.read(s, d, "dm"),
          HdbLambdas)
        .withColumnRenamed("node", "vec_id")
        .orderBy("vec_id"),
      Some(HdbscanSqlBase + "\n" + SoftMembershipTailSql),
      uses = Seq(EpsTree)),

    // GLOSH outlier scores over the SAME condensed tree as q358 (✚ —
    // the outlier-detection half of the HDBSCAN framework; algorithm
    // notes at [[gloshScores]]): each clusterable point gets
    // 1 − λ_attach/λ_max(subtree) in exact parts-per-million integer
    // arithmetic. The oracle rebuilds the tree from full-graph
    // reachability (the q358 base, shared textually) and re-derives
    // per-point attachments and bottom-up subtree depths in unrolled
    // CTEs — both engines must agree on every point's score bit for
    // bit. Same substrate as q345/q358: the three gates read one
    // density landscape as flat clusters, a persistence hierarchy, and
    // per-point outlierness.
    QueryDef("q359_glosh_outliers",
      // readout of the cached condensed-tree substrate (r18): one
      // att⋈dm join over persisted frames
      (s, d) => gloshReadout(EpsTree.read(s, d, "att"),
          EpsTree.read(s, d, "dm"), HdbLambdas)
        .withColumnRenamed("node", "vec_id")
        .orderBy("vec_id"),
      Some(HdbscanSqlBase + "\n" + GloshSelectSql),
      uses = Seq(EpsTree)),

    // GLOSH over the MUTUAL-REACHABILITY condensed tree (✚, r18 —
    // Campello et al. define GLOSH over exactly this hierarchy; q359
    // is its raw-ε discretization, THIS is the published form): the
    // outlier readout of the q360 substrate — a low-density point
    // chained to a dense blob through a thin bridge scores differently
    // here because core distances already inflated its attachment.
    // Zero new corpus passes: att⋈dm over the cached mr tree; the
    // oracle swaps ONLY the metric base (MreachSqlBase) under the
    // VERBATIM q359 attachment/score chain, so the two GLOSH gates
    // cannot disagree on anything but the metric.
    QueryDef("q381_glosh_mreach",
      (s, d) => gloshReadout(MrTree.read(s, d, "att"),
          MrTree.read(s, d, "dm"), HdbLambdas)
        .withColumnRenamed("node", "vec_id")
        .orderBy("vec_id"),
      Some(MreachSqlBase + "\n" + GloshSelectSql),
      uses = Seq(MrTree)),

    // Soft memberships over the MUTUAL-REACHABILITY condensed tree
    // (✚, r18 — the probabilities_ readout of HDBSCAN as published,
    // q362's metric sibling): att⋈sela⋈dm over the cached mr tree;
    // oracle = the metric base swap under q362's verbatim tail.
    QueryDef("q382_soft_membership_mreach",
      (s, d) => softMembershipReadout(MrTree.read(s, d, "att"),
          MrTree.read(s, d, "sela"), MrTree.read(s, d, "dm"),
          HdbLambdas)
        .withColumnRenamed("node", "vec_id")
        .orderBy("vec_id"),
      Some(MreachSqlBase + "\n" + SoftMembershipTailSql),
      uses = Seq(MrTree)),

    // Cophenetic fidelity of the ε-slink dendrogram (✚ — algorithm
    // notes at [[copheneticReport]]): the FIFTH readout of the shared
    // cached label scaffold (q345/q358/q359/q362 siblings). The gate's
    // own work is one grid ε-pass for the pair table plus two keyed
    // label joins; the oracle shares q358's level-connectivity CTEs
    // textually and mirrors the exact-integer-moment CPCC formula
    // shape for shape.
    QueryDef("q363_cophenetic",
      (s, d) => {
        val pts = Tables.embeddings(s, d).select(col("vec_id").as("id"),
          element_at(col("embedding"), 1).cast("double").as("x"),
          element_at(col("embedding"), 2).cast("double").as("y"))
        val pairs = gridEpsPairs(pts, eps = 0.05, eps2 = 0.0025)
          .where(col("ia") < col("ib"))
        copheneticReport(EpsSlink.read(s, d, "labels"), pairs, HdbCuts)
      },
      Some(CophOracleSql),
      uses = Seq(EpsSlink)),

    // OPTICS ordering + reachability over the mutual-reachability MST
    // (✚ — algorithm notes at [[opticsOrder]]): the ordering readout of
    // the q360 substrate — one tree, read as flat clusters (q360) and
    // as the reachability plot (this gate). Per-point reachability =
    // parent-edge weight in the min-id-rooted tree (traversal-
    // independent); the plot order is the weight-ascending Euler-tour
    // DFS, list-ranked in O(log n) doubling rounds — no O(diameter)
    // loop, no corpus pass. Oracle: unrolled Borůvka elects the SAME
    // (w, a, b)-unique tree, then a recursive parent walk replays the
    // tour with lexicographic path keys (10 rounds cover n ≤ 1024 at
    // the oracle's sf; converged rounds are no-ops).
    QueryDef("q364_optics_order",
      (s, d) => {
        // component labels ride the cached scaffold's top-cut column
        // (every mreach tree edge is ≤ the top cut by construction,
        // so level-3 connectivity IS tree connectivity) — the gate
        // spends its rounds on the list ranking, not a CC rerun
        val comps = MrSlink.read(s, d, "labels")
          .select(col("node"), col("l3").as("lbl"))
        opticsOrder(MrSlink.read(s, d, "mst"), compLabels = Some(comps))
          .orderBy("comp", "pos")
      },
      Some(opticsOracleSql(10)),
      uses = Seq(MrSlink)),

    // Flat DBSCAN-equivalent clusters extracted from q364's
    // reachability plot at the mid-ladder ε′ (✚ — algorithm notes at
    // [[opticsExtractClusters]]: the readout that completes the OPTICS
    // family — q364 gives the ORDERING, this gives the clustering a
    // caller actually consumes). Pure window/aggregate over the plot;
    // the oracle replays the identical tour (shared `plot` CTE chain
    // with q364 — the gates cannot drift on what the plot is) and
    // applies the same segmentation SQL.
    QueryDef("q373_optics_clusters",
      (s, d) => {
        val comps = MrSlink.read(s, d, "labels")
          .select(col("node"), col("l3").as("lbl"))
        opticsExtractClusters(
          opticsOrder(MrSlink.read(s, d, "mst"), compLabels = Some(comps)),
          eps = 0.0016, minSize = HdbMinSize)
      },
      Some(opticsPlotCtes(10) + ",\n" +
        s"""seg AS (
             |  SELECT vec_id, comp, pos,
             |    SUM(CASE WHEN reach IS NULL OR reach > 0.0016
             |             THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY comp ORDER BY pos) AS seg
             |  FROM plot),
             |szs AS (
             |  SELECT comp, seg, COUNT(*) AS n, MIN(vec_id) AS cid
             |  FROM seg GROUP BY 1, 2)
             |SELECT s.vec_id,
             |  CASE WHEN z.n >= $HdbMinSize THEN z.cid END AS cluster_id,
             |  CASE WHEN z.n >= $HdbMinSize THEN z.n END AS cluster_size
             |FROM seg s JOIN szs z ON z.comp = s.comp AND z.seg = s.seg
             |ORDER BY vec_id""".stripMargin),
      uses = Seq(MrSlink))
  )

  /** Per-point attachment + bottom-up subtree-deepest-level CTEs
    * (`pm`..`dma`), shared by q359 (GLOSH readout) and q362 (soft
    * memberships) — factored so the two gates stay textually identical
    * where their semantics are. */
  private lazy val GloshAttachCtes: String = """pm AS (
             |  SELECT l.node, MIN(l.j) AS dp FROM lab l
             |  JOIN inst i ON i.j = l.j AND i.c = l.lbl
             |  GROUP BY l.node),
             |att AS (
             |  SELECT p.node, p.dp, a.bj, a.bc
             |  FROM pm p
             |  JOIN lab l ON l.j = p.dp AND l.node = p.node
             |  JOIN cida a ON a.j = p.dp AND a.c = l.lbl),
             |own AS (
             |  SELECT o.bj, o.bc, o.dmin, c.pbj, c.pbc
             |  FROM (SELECT bj, bc, MIN(j) AS dmin FROM cida GROUP BY 1, 2) o
             |  JOIN cl c ON c.bj = o.bj AND c.bc = o.bc),
             |dm0 AS (
             |  SELECT bj, bc, pbj, pbc, dmin AS dm FROM own WHERE bj = 0),
             |dm1 AS (
             |  SELECT o.bj, o.bc, o.pbj, o.pbc,
             |    LEAST(o.dmin, COALESCE(kk.kdm, o.dmin)) AS dm
             |  FROM own o LEFT JOIN (
             |    SELECT pbj, pbc, MIN(dm) AS kdm FROM dm0
             |    WHERE pbj = 1 GROUP BY 1, 2) kk
             |    ON kk.pbj = o.bj AND kk.pbc = o.bc
             |  WHERE o.bj = 1),
             |dm01 AS (SELECT * FROM dm0 UNION ALL SELECT * FROM dm1),
             |dm2 AS (
             |  SELECT o.bj, o.bc, o.pbj, o.pbc,
             |    LEAST(o.dmin, COALESCE(kk.kdm, o.dmin)) AS dm
             |  FROM own o LEFT JOIN (
             |    SELECT pbj, pbc, MIN(dm) AS kdm FROM dm01
             |    WHERE pbj = 2 GROUP BY 1, 2) kk
             |    ON kk.pbj = o.bj AND kk.pbc = o.bc
             |  WHERE o.bj = 2),
             |dm012 AS (SELECT * FROM dm01 UNION ALL SELECT * FROM dm2),
             |dm3 AS (
             |  SELECT o.bj, o.bc, o.pbj, o.pbc,
             |    LEAST(o.dmin, COALESCE(kk.kdm, o.dmin)) AS dm
             |  FROM own o LEFT JOIN (
             |    SELECT pbj, pbc, MIN(dm) AS kdm FROM dm012
             |    WHERE pbj = 3 GROUP BY 1, 2) kk
             |    ON kk.pbj = o.bj AND kk.pbc = o.bc
             |  WHERE o.bj = 3),
             |dma AS (SELECT * FROM dm012 UNION ALL SELECT * FROM dm3)""".stripMargin
}
