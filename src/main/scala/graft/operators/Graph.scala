package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DoubleType

import graft.{ScalePolicy, Tables}

/** Graph analytics over the part co-purchase graph — the capability
  * class the rest of the catalog lacks: ITERATIVE edge-propagation
  * (PageRank) and local-structure mining (triangle counting), both
  * derived from the star schema's own lineitem fact (two parts are
  * linked when some order contains both), both hash-gated.
  *
  * The reference computes nothing graph-shaped (SURVEY §2.2: no joins
  * at all) — this is north-star surface in the spirit of `spark_eda
  * .py`'s co-occurrence narratives, built the way a 1000-executor
  * cluster needs it:
  *
  *  - edge derivation: per-order pair enumeration via a self-join of
  *    the DISTINCT (order, part) projection on the order key. Fan-out
  *    is C(k,2) per order where k is the order's line count — bounded
  *    by the order-size distribution (TPC-H ≤7), NOT by corpus size,
  *    so the edge table grows linearly with orders. No all-pairs
  *    quadrant anywhere.
  *  - PageRank ([[pagerank]]): the pr vector STAYS DISTRIBUTED (node
  *    count scales with the catalog — never a driver collect, unlike
  *    the k-means centroids in [[Clustering]] whose k is fixed). Each
  *    round is one equi-join of the static edge table with the pr
  *    frame plus one partial-aggregated shuffle on the destination
  *    key — the Pregel profile without Pregel. The edge table is
  *    localCheckpoint'd once; each round's pr frame is checkpointed to
  *    keep the 5-round lineage flat ([[Dedup.dupClusters]] precedent).
  *  - determinism: the score vector lives in FIXED-POINT — BIGINT
  *    micro-units at scale 10^12 — and every update is integer
  *    arithmetic (`DIV`, `*`, `SUM`), so each round is bit-identical
  *    across engines AND partitionings with no rounding convention at
  *    all (the first x01 cut rounded doubles and hit a half-boundary
  *    ulp flip between the JVM's exact-decimal ROUND and DuckDB's
  *    scaled-multiply ROUND — integers cannot). A fixed round count
  *    (no convergence test) keeps the two engines' expression chains
  *    structurally identical, so DuckDB replays the whole fit as a
  *    generated CTE chain pr0→pr5 and the gate pins EVERY node's
  *    score after EVERY round, exactly.
  *  - triangles ([[triangles]]): edges oriented from the lower
  *    (degree, id) endpoint to the higher — the classic orientation
  *    that bounds out-degree by O(√m), making the wedge join's fan-out
  *    Σ od(b)·id(b) instead of Σ deg². Three equi-joins, no nested
  *    loop (plan-asserted in GraphSpec), integer outputs.
  */
object Graph {

  /** Rounds / damping / fixed-point scale of the x01 gate — mirrored
    * in [[x01Sql]]'s generated chain; change both by changing THESE.
    * Damping is the rational 85/100 applied in integer arithmetic. */
  val prRounds = 5
  val scale = 1000000000000L // 10^12 micro-units per unit of mass

  /** Undirected co-purchase edges (src < dst, w = #co-occurring
    * orders) from the distinct (order, part) projection.
    *
    * Round 15 reshape: was distinct() + an o-keyed self-join (three
    * exchanges, and the pair fan-out ran at whatever width AQE left the
    * join). Now ONE spread-width exchange on the order key builds each
    * order's distinct part set, and the C(k,2) pair expansion is the
    * d02 posting-list shape — two codegen'd generator explodes
    * (posexplode + tail slice), parallel across the pinned width — into
    * the same (src < dst, w) aggregate. Per-order fan-out is bounded by
    * the order-size distribution exactly as before; results identical
    * (each unordered pair of an order's distinct parts appears once,
    * counted per order). */
  def copurchaseEdges(lineitem: DataFrame): DataFrame = {
    val ps = col("ps")
    val sets = ScalePolicy.spread(
        lineitem.select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        col("o"))
      .groupBy(col("o")).agg(collect_set(col("p")).as("ps"))
      .filter(size(ps) > 1)
    sets
      .select(posexplode(ps).as(Seq("i", "a")), ps)
      .select(col("a"), explode(slice(ps, col("i") + lit(2), size(ps))).as("b"))
      .groupBy(least(col("a"), col("b")).as("src"),
        greatest(col("a"), col("b")).as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Both directions of [[copurchaseEdges]]. */
  private def directed(und: DataFrame): DataFrame =
    und.select(col("src"), col("dst"), col("w"))
      .unionAll(und.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))

  /** One damped fixed-point round: mass from `pr` pushed along
    * `edges` (src, dst, w, outw), partially aggregated on dst. Shared
    * by [[pagerank]] (checkpointed edges) and [[pagerankBucketed]]
    * (bucketed edge table) — and by GraphSpec's exchange-count pin, so
    * the pinned plan IS the gate's round shape. */
  private[graft] def prRound(edges: DataFrame, pr: DataFrame,
                             base: Long): DataFrame =
    edges.join(pr, edges("src") === pr("node"))
      .select(col("dst"), expr("pr * w DIV outw").as("c"))
      .groupBy(col("dst"))
      .agg((lit(base) + expr("85 * sum(c) DIV 100")).as("pr"))
      .select(col("dst").as("node"), col("pr"))

  /** (out-strength frame, initial pr vector, teleport base, node
    * count) for a directed-edge frame — the shared fit preamble. */
  private def prSetup(e: DataFrame): (DataFrame, DataFrame, Long, Long) = {
    val cp = ScalePolicy.checkpoint(e.groupBy(col("src"))
      .agg(sum(col("w")).as("outw"), count(lit(1)).as("n_nbrs")))
    val (out, n) = (cp.frame, cp.rows)
    val pr0 = out.select(col("src").as("node"),
      lit(scale / n).as("pr")).localCheckpoint(true)
    (out, pr0, (15L * scale) / (100L * n), n) // teleport mass, integer-exact
  }

  private def prFinish(out: DataFrame, pr: DataFrame): DataFrame =
    out.join(pr, out("src") === pr("node"))
      .select(col("src").as("part_key"), col("n_nbrs"),
        col("pr").as("pr_fp"))
      .orderBy(col("part_key"))

  /** Fixed-point PageRank over the co-purchase graph:
    * (part_key, n_nbrs, pr_fp) after [[prRounds]] damped rounds from a
    * uniform start; pr_fp is the score in [[scale]] micro-units. */
  def pagerank(lineitem: DataFrame, rounds: Int = prRounds): DataFrame = {
    val e = directed(copurchaseEdges(lineitem))
    // static per-source strength + neighbor count, attached to the
    // edge table once so rounds touch exactly two frames
    val (out, pr0, base, n) = prSetup(e)
    // NOTE: pre-partitioning this frame on src before the checkpoint
    // would NOT save the per-round join exchange — localCheckpoint's
    // LogicalRDD drops outputPartitioning in this Spark build (verified
    // plan-side: a groupBy over a repartition+checkpoint frame still
    // exchanges), so each round re-exchanges both sides by design. At
    // cluster scale the fix is a reliable checkpoint into a BUCKETED
    // table keyed on src, which survives with its layout —
    // [[pagerankBucketed]] (the x07 gate) runs exactly that recipe.
    val edges = e.join(out.select(col("src"), col("outw")), "src")
      .localCheckpoint(true)
    // Rounds stay LAZY (round 15 — was one eager localCheckpoint per
    // round): the round count is FIXED and each round's pr feeds the
    // next exactly once, so the 5-round chain is a linear plan that one
    // action executes stage-by-stage — same shuffles, none of the
    // per-round job submission + RDD materialization overhead
    // (measured: 46 jobs → ~5 AQE stage-jobs at sf0.1). Iterations with
    // a per-round ACTION (convergence tests: kCore, starContract) or a
    // frame consumed twice per round keep their checkpoints.
    // The pr vector is NODE-sized: while it fits, it is broadcast into
    // each round's join so the EDGE table is never exchanged (round 16
    // — was both sides re-shuffled every round). Past the envelope: the
    // keyed plan, and [[pagerankBucketed]] is the standing-graph recipe.
    val nodeHint = ScalePolicy.nodeFrames.hint(n)
    var pr = pr0
    for (_ <- 1 to rounds)
      pr = prRound(edges, nodeHint(pr), base)
    prFinish(out, nodeHint(pr))
  }

  /** The cluster-scale PageRank recipe as a gate (x07): the static
    * edge frame is written ONCE into a src-BUCKETED sorted table
    * ([[graft.sources.Warehouse.writeBucketed]]) and every round reads
    * it back WITH its layout — bucketing survives storage where
    * localCheckpoint's outputPartitioning does not, so the per-round
    * join needs no edge-side exchange (GraphSpec pins 2-vs-3 exchanges
    * on [[prRound]] itself under disabled broadcast). At 100 TB this
    * is the difference between shuffling the edge list once per round
    * and shuffling only the (much smaller) rank vector: the one-time
    * bucketed write is amortized over every round and every re-fit on
    * the standing graph. Arithmetic is [[pagerank]]'s bit for bit —
    * same integer rounds, same oracle (x01's generated CTE chain). */
  def pagerankBucketed(lineitem: DataFrame,
                       table: String = "graft_x07_edges"): DataFrame = {
    val spark = lineitem.sparkSession
    val e = directed(copurchaseEdges(lineitem))
    val (out, pr0, base, _) = prSetup(e)
    graft.sources.Warehouse.writeBucketed(
      e.join(out.select(col("src"), col("outw")), "src"), table, "src", 32)
    val edges = spark.table(table)
    // lazy rounds — the [[pagerank]] round-15 rationale. NO broadcast
    // hint here, deliberately (round 16): this gate EXISTS to exercise
    // the bucketed-edge round shape — the past-the-broadcast-envelope
    // recipe, where the standing layout (not a broadcast) is what
    // removes the edge-side exchange. Hinting pr would make the gate
    // plan identical to x01's and stop exercising the layout.
    var pr = pr0
    for (_ <- 1 to prRounds)
      pr = prRound(edges, pr, base)
    prFinish(out, pr)
  }

  /** Per-node triangle count + local clustering coefficient over the
    * co-purchase graph: (part_key, deg, n_tri, cc_r).
    *
    * `maxWedgeDegree` (round 15 — the x02 scale-killer insurance): the
    * (deg, id) orientation bounds out-degree by O(√m) on ORGANIC
    * graphs, but a single celebrity node at billions of orders makes
    * its Σ out-deg² wedge contribution quadratic in its degree anyway
    * — the same degenerate-clump shape the d08/d11/m10 caps guard.
    * The cap TRUNCATES each oriented out-list to its `cap` smallest
    * neighbor ids (deterministic): triangles whose wedge corners
    * survive are still counted exactly, over-cap corners undercount —
    * triangle counting's standard sparsification trade, candidate
    * volume back to O(m·cap). capped n_tri ≤ uncapped per node and
    * exact-below-cap are pinned in GraphSpec; the x02 gate runs
    * uncapped (oracle parity), the cap is the 100 TB dial. Degrees
    * and cc denominators stay the TRUE degrees — only the wedge
    * enumeration is sparsified. */
  def triangles(lineitem: DataFrame,
                maxWedgeDegree: Option[Int] = None): DataFrame = {
    val und = copurchaseEdges(lineitem)
      .select(col("src").as("u"), col("dst").as("v"))
      .localCheckpoint(true)
    // both checkpoints' row counts size the conditional broadcasts below
    val degCp = ScalePolicy.checkpoint(und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    val deg = degCp.frame
    val nodeHint = ScalePolicy.nodeFrames.hint(degCp.rows)
    // orient each edge from the lower (deg, id) endpoint to the higher:
    // out-degree bounded by O(sqrt m), so the wedge join can't blow up.
    // deg is node-sized: broadcast into both lookups while it fits (was
    // two SMJs re-sorting the edge frame).
    val du = nodeHint(deg.select(col("node").as("u"), col("deg").as("du")))
    val dv = nodeHint(deg.select(col("node").as("v"), col("deg").as("dv")))
    val low = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oe0 = und.join(du, "u").join(dv, "v")
      .select(when(low, col("u")).otherwise(col("v")).as("a"),
        when(low, col("v")).otherwise(col("u")).as("b"))
    val oeCp = ScalePolicy.checkpoint(maxWedgeDegree.fold(oe0) { cap =>
      val w = Window.partitionBy(col("a")).orderBy(col("b"))
      oe0.withColumn("ork", row_number().over(w))
        .filter(col("ork") <= cap).drop("ork")
    })
    val oe = oeCp.frame
    // spread ONE side to pin the enumeration width (round 15): the
    // oriented edge list is tiny in bytes, so AQE would coalesce the
    // fan-out to one partition and the O(Σ out-deg²) wedge ENUMERATION
    // (the whole cost of this query) would serialize.
    // Round 16: while the edge list fits the broadcast envelope, BOTH
    // wedge joins take it as a broadcast build — the ~Σ out-deg² wedge
    // rows (83M at sf0.1, ~2 GB) then stream map-side through two hash
    // probes at the spread width and die into the per-node partial
    // aggregate without EVER hitting an exchange (was: a full wedge
    // shuffle for the closure join — the measured 5 s single stage).
    // Past the envelope the plan falls back to the round-15 spread SMJ
    // shape: identical results, the orientation bound still caps the
    // fan-out, only the closure join pays its shuffle again.
    val tri0 =
      if (ScalePolicy.edgeFrames.fits(oeCp.rows))
        ScalePolicy.spread(oe, col("a")).as("e1")
          .join(broadcast(oe.as("e2")), col("e1.b") === col("e2.a"))
          .join(broadcast(oe.as("e3")),
            col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      else
        oe.as("e1")
          .join(ScalePolicy.spread(oe, col("a")).as("e2"),
            col("e1.b") === col("e2.a"))
          .join(oe.as("e3"),
            col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
    val tri = tri0
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(nodeHint(perNode), Seq("node"), "left")
      .select(col("node").as("part_key"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") > 1,
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L)).cast(DoubleType) /
            (col("deg") * (col("deg") - 1)).cast(DoubleType), 6)).as("cc_r"))
      .orderBy(col("part_key"))
  }

  /** Max frontier expansions for the x03 gate — mirrored in
    * [[x03Sql]]. */
  val bfsHops = 4

  /** BFS hop distances from a deterministic seed (the minimum part id
    * in the graph) — the reachability/distance primitive (impact
    * radius, related-product depth). Classic distributed frontier
    * expansion: each round joins the CURRENT FRONTIER (only — nodes
    * found this round, not the whole visited set) against the edge
    * table and anti-joins out already-visited nodes, so total work is
    * O(Σ frontier·deg) — each edge relaxed at most once per endpoint
    * discovery, never |V|·|E|. Integer distances, no rounding
    * convention needed. The visited set is localCheckpoint'd per
    * round ([[Dedup.dupClusters]] precedent).
    *
    * DuckDB replays it as a recursive CTE with UNION-dedup on
    * (node, d) and takes MIN(d) per node — level-synchronous BFS and
    * min-over-all-walks agree by definition of shortest path. */
  def bfsHopsFrom(lineitem: DataFrame, maxHops: Int = bfsHops): DataFrame = {
    // the seed and the envelope's row count ride the edge checkpoint
    val cp = ScalePolicy.checkpoint(directed(copurchaseEdges(lineitem))
      .select(col("src"), col("dst")), min(col("src")).as("seed"))
    require(cp.rows > 0, "bfsHopsFrom: the co-purchase graph has no edges, so no seed")
    val (e, seed) = (cp.frame, cp.long("seed"))
    var visited = e.sparkSession.range(1).select(
      lit(seed).as("node"), lit(0).as("dist")).localCheckpoint(true)
    var frontier = visited
    // frontier and visited are NODE-sized (≤ 2·edges): broadcast them
    // into the expansion / anti-join while the graph fits the envelope,
    // so the edge table is never exchanged per hop — the [[pagerank]]
    // round-16 rationale
    val nodeHint = ScalePolicy.nodeFrames.hint(cp.rows)
    for (d <- 1 to maxHops) {
      // only the FRONTIER is eagerly checkpointed per round (it feeds
      // two consumers next round — expansion and anti-join); visited
      // stays a LAZY union of already-materialized frontiers, whose
      // re-scan is free (round 15 — was a second eager checkpoint per
      // round, i.e. a second job re-copying every earlier frontier).
      val fh = nodeHint(frontier)
      frontier = e.join(fh, e("src") === fh("node"))
        .select(col("dst").as("node")).distinct()
        .join(nodeHint(visited), Seq("node"), "left_anti")
        .select(col("node"), lit(d).as("dist"))
        .localCheckpoint(true)
      visited = visited.unionAll(frontier)
    }
    visited.select(col("node").as("part_key"), col("dist"))
      .orderBy(col("part_key"))
  }

  /** Personalized PageRank: same fixed-point integer scheme as
    * [[pagerank]], but ALL teleport mass returns to a seed set instead
    * of spreading uniformly — the "impact radius" / related-items
    * primitive (scores decay with distance from the seeds, exactly
    * zero beyond [[prRounds]] hops). The per-round recurrence keeps the
    * x01 shape (one edge⋈pr join + one partial-aggregated shuffle on
    * dst; zero-mass nodes ride along as c=0 contributions because the
    * graph is symmetric, so no extra left join is needed), and the
    * all-integer arithmetic lets DuckDB replay every round exactly.
    * Seeds: every 20th part id — a deterministic projection, mirrored
    * literally in [[x05Sql]]. */
  def personalizedPagerank(lineitem: DataFrame): DataFrame = {
    val e = directed(copurchaseEdges(lineitem))
    val isSeed = (c: org.apache.spark.sql.Column) => c % 20 === 0
    // the seed count and the envelope's row count ride out's checkpoint
    val cp = ScalePolicy.checkpoint(e.groupBy(col("src"))
        .agg(sum(col("w")).as("outw"), count(lit(1)).as("n_nbrs")),
      count(when(isSeed(col("src")), 1)).as("seeds"))
    val (out, nSeeds) = (cp.frame, cp.long("seeds"))
    require(nSeeds > 0, "seed set (part_key % 20 == 0) is empty")
    val edges = e.join(out.select(col("src"), col("outw")), "src")
      .localCheckpoint(true)
    var pr = out.select(col("src").as("node"),
      when(isSeed(col("src")), lit(scale / nSeeds)).otherwise(lit(0L))
        .as("pr")).localCheckpoint(true)
    val base = (15L * scale) / (100L * nSeeds)
    // node-sized rank vector broadcast per round while it fits — the
    // [[pagerank]] round-16 rationale (edge table never exchanged)
    val nodeHint = ScalePolicy.nodeFrames.hint(cp.rows)
    // lazy rounds — the [[pagerank]] round-15 rationale
    for (_ <- 1 to prRounds) {
      val prh = nodeHint(pr)
      pr = edges.join(prh, edges("src") === prh("node"))
        .select(col("dst"), expr("pr * w DIV outw").as("c"))
        .groupBy(col("dst"))
        .agg((when(isSeed(col("dst")), lit(base)).otherwise(lit(0L)) +
          expr("85 * sum(c) DIV 100")).as("pr"))
        .select(col("dst").as("node"), col("pr"))
    }
    val prF = nodeHint(pr)
    out.join(prF, out("src") === prF("node"))
      .select(col("src").as("part_key"), isSeed(col("src")).as("is_seed"),
        col("pr").as("ppr_fp"))
      .orderBy(col("part_key"))
  }

  /** Rounds of the x04 gate — mirrored in [[x04Sql]]. */
  val lpRounds = 4

  /** Synchronous min-label propagation over the co-purchase graph —
    * the community/grouping primitive (radius-[[lpRounds]] label
    * spread; run to fixpoint it is exactly connected components, the
    * [[graft.operators.Dedup.dupClusters]] algorithm). Every node
    * starts as its own label; each round every node takes the MIN of
    * its own label and its neighbors' — one equi-join of the static
    * edge table with the label frame plus one partial-aggregated
    * MIN shuffle per round, the same Pregel-without-Pregel profile as
    * [[pagerank]], and all-integer so the gate pins every node's label
    * after every round with no rounding convention. Labels stay
    * distributed (never a driver collect); per-round localCheckpoint
    * keeps the lineage flat. */
  def labelPropagation(lineitem: DataFrame, rounds: Int = lpRounds): DataFrame = {
    // Round 15 reshape: the static edge frame carries a SELF-LOOP per
    // node, so one round is a single join + MIN aggregate —
    // min(own ∪ neighbors) — instead of a neighbor-min join PLUS a
    // left-join/least against the previous labels. Each round then
    // consumes the previous label frame exactly ONCE, which makes the
    // fixed-round chain linear and lets it run LAZY end-to-end (the
    // [[pagerank]] round-15 rationale: same shuffles, none of the
    // per-round job + checkpoint overhead). Round arithmetic identical:
    // least(lbl, coalesce(min over nbrs, lbl)) == min over (nbrs ∪ self).
    val e0 = directed(copurchaseEdges(lineitem))
      .select(col("src"), col("dst"))
    val nodes = e0.select(col("src").as("node")).distinct()
    val cp = ScalePolicy.checkpoint(e0.unionAll(
        nodes.select(col("node").as("src"), col("node").as("dst"))))
    val e = cp.frame
    // init from the CHECKPOINTED frame (self-loops make every node a
    // src), so the lazy chain's final action never re-derives e0
    var lbl = e.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    // the label frame is NODE-sized (≤ the checkpointed edge+self-loop
    // count): broadcast it per round while it fits, so the edge table
    // is never exchanged — the [[pagerank]] round-16 rationale
    val nodeHint = ScalePolicy.nodeFrames.hint(cp.rows)
    for (_ <- 1 to rounds) {
      val lh = nodeHint(lbl)
      lbl = e.join(lh, e("src") === lh("node"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("lbl"))
        .select(col("dst").as("node"), col("lbl"))
    }
    val wc = Window.partitionBy(col("lbl"))
    lbl.select(col("node").as("part_key"), col("lbl").as("community"),
        count(lit(1)).over(wc).as("community_size"))
      .orderBy(col("part_key"))
  }

  /** Rounds of the x06 gate — mirrored in [[x06Sql]]. Large-star/
    * small-star converges in O(log n) alternations; 6 is comfortably
    * past convergence for every gate/bench corpus and the operator
    * AUDITS convergence loudly (an extra alternation must be a no-op)
    * rather than trusting the constant. */
  val csRounds = 6

  /** Connected components via ALTERNATING LARGE-STAR/SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the O(log n)-round formulation [[graft.operators.Dedup.dupClusters]]'s
    * doc cites as the better-worst-case shape for 100 TB: min-label
    * propagation needs DIAMETER rounds (a long path pays its length),
    * while star alternations contract every component to a star in
    * logarithmically many steps regardless of diameter.
    *
    * Each alternation is two of exactly the join-shapes this engine
    * already scales: LARGE-STAR — per node u, connect every LARGER
    * neighbor to m(u) = min(Γ(u) ∪ u): one per-src MIN aggregate +
    * one equi-join re-keying the edge list; SMALL-STAR — per node u,
    * connect its SMALLER neighbors (and u) to their minimum: the same
    * aggregate + join on the canonical (a < b) list's larger endpoint.
    * Edges only ever re-point toward smaller ids (connectivity
    * preserved, a standard invariant of the algorithm), every value is
    * an integer id (no rounding convention), and each step ends in
    * DISTINCT — the frame stays ≤ |E| canonical pairs. Per-round
    * localCheckpoint keeps lineage flat (the [[pagerank]] discipline).
    *
    * At the fixed point the edge list IS the component structure:
    * every edge is (component-min, member), detected by the sound
    * Σ(a+b) one-scalar test and failed LOUDLY if the budget runs out
    * (the [[graft.operators.Dedup.dupClusters]] truncation contract:
    * partially-contracted edges look exactly like finished ones).
    * The alternation itself lives in [[starContract]] — one
    * implementation for the gate and the semantic-dedup survivor path.
    * Labels fall out as one LEFT join + coalesce; output matches x04's
    * (part_key, community-like label, size) shape and is hash-gated
    * against a DuckDB replay of every alternation ([[x06Sql]] — the
    * x01/x04 generated-CTE-chain discipline). */
  def starComponents(lineitem: DataFrame, rounds: Int = csRounds): DataFrame = {
    // One implementation of the alternation exists — [[starContract]];
    // this gate wrapper only derives the co-purchase edges, bounds the
    // budget at the oracle-mirrored `rounds` (once the Σ(a+b)
    // fixed-point test says stable, the oracle's remaining CTE rounds
    // are identities producing the SAME e_rounds, so early exit is
    // hash-safe), and shapes the x04-style output. NOTE on shuffle
    // width: unlike the streaming replay gates (fixed 8-partition
    // state, v12–v17 rationale), the edge frame GROWS with the corpus —
    // pinning a narrow width would be a scale bug; AQE coalescing
    // handles the small-exchange case.
    val und = copurchaseEdges(lineitem)
      .select(col("src").as("id_a"), col("dst").as("id_b"))
    val labels = starContract(und, maxAlternations = rounds)
    val wc = Window.partitionBy(col("component"))
    labels
      .select(col("node").as("part_key"), col("lbl").as("component"))
      .withColumn("component_size", count(lit(1)).over(wc))
      .orderBy(col("part_key"))
  }

  /** Early-exiting star contraction over an arbitrary pair list —
    * [[graft.operators.Dedup.dupClusters]]'s O(log n)-round twin and
    * the SINGLE implementation of the alternation ([[starComponents]]
    * wraps it for the x06 gate): shared with the semantic-dedup
    * survivor path, whose x100 pair graph's diameter blew past
    * min-label's 20-round budget — the failure this replaces with a
    * logarithmic one.
    *
    * The alternation pairs with a SOUND one-scalar
    * convergence check per round: every half-step maps each canonical
    * edge (x, y) to an edge of value-sum ≤ x + y (large-star re-points
    * y to m(x) ≤ x; small-star's per-group sum drops by
    * (k−1)·(b − m₂) ≥ 0) and DISTINCT can only remove positive
    * contributions — so Σ(a + b) is strictly decreasing UNLESS the
    * alternation was the identity, and an unchanged sum ⟺ the edge set
    * is a fixed point (disjoint stars centered at component minima).
    * The scalar rides each checkpoint's own materialization as an
    * observed metric ([[Dedup.dupClusters]]'s one-action-per-round
    * precedent) — no separate aggregate job per round.
    *
    * Returns (node, lbl) for every node incident to a pair — the
    * [[graft.operators.Dedup.dupClusters]] contract. Throws LOUDLY if
    * `maxAlternations` (default 20 ⟹ components of ~2²⁰ nodes) is
    * exhausted: partially-contracted edges look exactly like finished
    * ones. */
  def starContract(pairs: DataFrame, maxAlternations: Int = 20): DataFrame = {
    // the Σ(a+b) scalar rides the frame's own eager-checkpoint job as an
    // observed metric — the [[Dedup.dupClusters]] one-action-per-round
    // shape; null sum ⟺ empty edge set
    def checkpointWithSum(e: DataFrame): (DataFrame, Long) = {
      val cp = ScalePolicy.checkpoint(e,
        coalesce(sum(col("a") + col("b")), lit(0L)).as("s"))
      (cp.frame, cp.long("s"))
    }

    val (und, undSum) = checkpointWithSum(pairs
      .select(col("id_a").as("a"), col("id_b").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct())
    val nodes = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .distinct().localCheckpoint(true)

    // One checkpoint + one action per alternation: both half-steps are
    // min-over-group WINDOWS instead of groupBy+self-join (the window
    // reads each frame once, so no intermediate materialization is
    // needed to stop double-compute), and the small-star half emits its
    // (m, b) group row from the a==m row of the same pass. Duplicate
    // rows the dropped intermediate distinct would have removed produce
    // duplicate outputs that the single final distinct removes — the
    // post-distinct edge set is IDENTICAL to the two-checkpoint form
    // (x06's per-alternation hash gate pins this).
    // Round 16 NOTE — a groupBy-min + conditional-broadcast-join form
    // (the pagerank recipe) was tried and REVERTED on measurement:
    // per-alternation shuffle bytes drop 3·|E| → |E| + 2·|nodes|, but
    // at sf0.1 (1.2M edges) x06 measured FLAT while the two broadcast
    // builds per alternation cost real fixed time on the small pair
    // graphs of d12/d13/d14 (d12 ~1.3× anchor-normalized) — and past
    // the node envelope the keyed-join fallback pays MORE exchanges
    // than the window form, so the broadcast band is narrow at both
    // ends. The window form is the right default at every scale the
    // catalog measures.
    def alternate(e: DataFrame): (DataFrame, Long) = {
      val d = e.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      val ls = d
        .withColumn("m",
          least(min(col("dst")).over(Window.partitionBy(col("src"))),
            col("src")))
        .filter(col("dst") > col("src"))
        .select(col("m").as("a"), col("dst").as("b"))
      checkpointWithSum(ls
        .withColumn("mb", min(col("a")).over(Window.partitionBy(col("b"))))
        .select(col("mb").as("a"),
          when(col("a") === col("mb"), col("b")).otherwise(col("a")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct())
    }

    var e = und
    var prev = undSum
    var converged = prev == 0L // empty pair list: nothing to contract
    var iter = 0
    while (!converged && iter < maxAlternations) {
      val (next, s) = alternate(e)
      e = next
      converged = s == prev
      prev = s
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"starContract did not converge within $maxAlternations " +
          "alternations — raise the budget")
    nodes
      .join(e.select(col("b").as("node"), col("a").as("lbl")), Seq("node"), "left")
      .select(col("node"), coalesce(col("lbl"), col("node")).as("lbl"))
  }

  /** Oracle chain length for [[kCore]] (x08) — [[x08Sql]] materializes
    * exactly this many peel rounds. The engine early-exits at the
    * fixpoint instead; sound against the fixed-length chain because a
    * peel round AT the fixpoint is the identity (no node is below k),
    * so the oracle's surplus rounds change nothing. GraphSpec audits
    * convergence-within-chain at the GATE corpus (sf0.01 — 5 content
    * rounds measured; sf0.1 needs ~10, hence the margin to 12; the
    * sf0.001 suite corpus converges in 1 and proves nothing). */
  val corePeelRounds = 12

  /** Loud-throw budget for [[kCore]]'s early-exit loop — peel depth is
    * data-dependent (the cascade can be long on near-threshold
    * graphs), and a silently-truncated peel looks exactly like a
    * finished one. */
  val corePeelBudget = 24

  /** k-core decomposition of the co-purchase graph: iteratively peel
    * nodes of degree < k (with their incident edges) until the graph
    * stabilizes — the surviving subgraph is the k-core, the standard
    * density filter for "parts with robustly co-purchased context"
    * (and, on document/similarity graphs, the community-kernel /
    * spam-tail cut). k is derived from the graph itself —
    * 7·(E/N)/10 in integer arithmetic, ~0.7× mean degree — so the
    * peel bites at every scale factor instead of hardcoding a
    * gate-SF-only threshold.
    *
    * Each round: per-src degree of the CURRENT graph (one partial
    * aggregation whose exchange moves node-sized partials, not edges),
    * then two semi-joins keep edges whose BOTH endpoints survive. The
    * round's edge frame is checkpointed once with the edge count
    * riding it as an observed metric ([[starContract]]'s
    * one-action-per-round shape); the count is strictly decreasing
    * unless the round was the identity, and peel-only-removes makes
    * equal-count ⟺ fixed point a sound convergence test. All-integer
    * state — no rounding convention anywhere.
    *
    * At 100 TB: the surviving-node frame is node-sized (catalog-scale,
    * not corpus-scale) — when it fits the broadcast threshold AQE
    * turns both semi-joins into broadcasts and the edge list never
    * moves; past that they are plain keyed semi-joins (two edge
    * exchanges per round) and the x07 bucketed-edge recipe removes
    * the standing side's exchange for recurrent fits.
    *
    * Returns (part_key, core_k, core_deg) for the surviving nodes —
    * core_deg ≥ k for every row by the fixpoint property (pinned in
    * GraphSpec). */
  def kCore(lineitem: DataFrame): DataFrame = {
    // spread BEFORE the first checkpoint (round 15): every peel round's
    // degree partial-aggregation and broadcast semi-joins pipeline
    // directly on the previous round's checkpointed partitions — with
    // no exchange anywhere in the round, the width set here is the
    // width of EVERY round.
    val e0 = ScalePolicy.spread(
        directed(copurchaseEdges(lineitem)).select(col("src"), col("dst")),
        col("src"))
      .localCheckpoint(true)
    val scalars = e0
      .agg(count(lit(1)).as("e"), countDistinct(col("src")).as("n"))
      .head() // bounded: two longs
    val (eCnt, nCnt) = (scalars.getLong(0), scalars.getLong(1))
    val k = if (nCnt == 0L) 0L else 7L * (eCnt / nCnt) / 10L

    // the surviving-node frame is catalog-sized: while it fits, the
    // semi-joins broadcast it (at sf0.1 the edge frame otherwise
    // re-exchanged twice per round)
    val hint = ScalePolicy.nodeFrames.hint(nCnt)
    def peel(e: DataFrame): (DataFrame, Long) = {
      // ONE keep-set frame joined twice through explicit conditions
      // (round 16 — was two differently-aliased projections of it):
      // both broadcast subtrees now canonicalize identically, so
      // ReuseExchange builds the keep-set's degree aggregate + hash
      // relation ONCE per round instead of twice (one driver
      // round-trip and one aggregation job saved per peel round).
      val keep = hint(e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("node")))
      val next = ScalePolicy.checkpoint(e
        .join(keep, e("src") === keep("node"), "left_semi")
        .join(keep, e("dst") === keep("node"), "left_semi")
        .select(col("src"), col("dst")))
      (next.frame, next.rows)
    }

    var e = e0
    var prev = eCnt
    var converged = prev == 0L
    var iter = 0
    while (!converged && iter < corePeelBudget) {
      val (next, c) = peel(e)
      e = next
      converged = c == prev // peel only removes: equal count ⟺ identity
      prev = c
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore did not reach its fixpoint within $corePeelBudget peel " +
          "rounds — raise the budget")
    e.groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("part_key"), lit(k).as("core_k"),
        col("core_deg"))
      .orderBy(col("part_key"))
  }

  def x01Pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerank(Tables.lineitem(spark, dir))

  def x02Triangles(spark: SparkSession, dir: String): DataFrame =
    triangles(Tables.lineitem(spark, dir))

  def x03BfsHops(spark: SparkSession, dir: String): DataFrame =
    bfsHopsFrom(Tables.lineitem(spark, dir))

  def x04LabelCommunities(spark: SparkSession, dir: String): DataFrame =
    labelPropagation(Tables.lineitem(spark, dir))

  def x05PersonalizedPagerank(spark: SparkSession, dir: String): DataFrame =
    personalizedPagerank(Tables.lineitem(spark, dir))

  def x06StarComponents(spark: SparkSession, dir: String): DataFrame =
    starComponents(Tables.lineitem(spark, dir))

  def x07PagerankBucketed(spark: SparkSession, dir: String): DataFrame =
    pagerankBucketed(Tables.lineitem(spark, dir))

  def x08KCore(spark: SparkSession, dir: String): DataFrame =
    kCore(Tables.lineitem(spark, dir))

  /** Shared DuckDB edge CTEs of both oracles. */
  private val edgeSql: String =
    """op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |und AS (
      |  SELECT a.p AS src, b.p AS dst, CAST(COUNT(*) AS BIGINT) AS w
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
      |e AS (SELECT src, dst, w FROM und
      |      UNION ALL SELECT dst, src, w FROM und)""".stripMargin

  /** Generated DuckDB twin of x01: pr{i} is the integer score vector
    * after i rounds — same integer `//` truncations (all operands
    * positive, so floor == trunc == Spark's DIV), so every node's
    * score after every round is pinned bit-exactly. */
  val x01Sql: String = {
    val rounds = (0 until prRounds).map { i =>
      s"""pr${i + 1} AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |         (SELECT b FROM base) + 85 * SUM(p.pr * e.w // o.outw) // 100
         |           AS pr
         |  FROM e JOIN pr$i p ON e.src = p.node JOIN o ON e.src = o.src
         |  GROUP BY e.dst)""".stripMargin
    }
    s"""WITH $edgeSql,
       |o AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outw,
       |             CAST(COUNT(*) AS BIGINT) AS n_nbrs
       |      FROM e GROUP BY 1),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM o),
       |base AS (SELECT 15 * ${scale}::BIGINT // (100 * n) AS b FROM nn),
       |pr0 AS (SELECT src AS node,
       |               (SELECT ${scale}::BIGINT // n FROM nn) AS pr FROM o),
       |${rounds.mkString(",\n")}
       |SELECT o.src AS part_key, o.n_nbrs, CAST(p.pr AS BIGINT) AS pr_fp
       |FROM o JOIN pr$prRounds p ON o.src = p.node
       |ORDER BY part_key""".stripMargin
  }

  /** DuckDB twin of x02: identical (deg, id) orientation spelled as an
    * explicit boolean, same wedge + closing-edge equi-joins. */
  val x02Sql: String =
    s"""WITH $edgeSql,
       |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
       |        FROM e GROUP BY 1),
       |oe AS (
       |  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u.u < u.v)
       |              THEN u.u ELSE u.v END AS a,
       |         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u.u < u.v)
       |              THEN u.v ELSE u.u END AS b
       |  FROM (SELECT src AS u, dst AS v FROM und) u
       |  JOIN deg du ON du.node = u.u JOIN deg dv ON dv.node = u.v),
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM oe e1 JOIN oe e2 ON e1.b = e2.a
       |  JOIN oe e3 ON e3.a = e1.a AND e3.b = e2.b),
       |pn AS (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
       |  FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
       |        UNION ALL SELECT z FROM tri)
       |  GROUP BY 1)
       |SELECT deg.node AS part_key, deg.deg,
       |       COALESCE(pn.n_tri, 0) AS n_tri,
       |       CASE WHEN deg.deg > 1 THEN
       |         ROUND(2.0 * CAST(COALESCE(pn.n_tri, 0) AS DOUBLE) /
       |               CAST(deg.deg * (deg.deg - 1) AS DOUBLE), 6)
       |       END AS cc_r
       |FROM deg LEFT JOIN pn ON pn.node = deg.node
       |ORDER BY part_key""".stripMargin

  /** DuckDB twin of x03: recursive BFS with UNION dedup on (node, d);
    * MIN(d) per node == the level-synchronous frontier distance. */
  val x03Sql: String =
    s"""WITH RECURSIVE $edgeSql,
       |walk(node, d) AS (
       |  SELECT (SELECT MIN(src) FROM e), 0
       |  UNION
       |  SELECT e.dst, w.d + 1
       |  FROM walk w JOIN e ON e.src = w.node
       |  WHERE w.d < $bfsHops)
       |SELECT node AS part_key, CAST(MIN(d) AS INT) AS dist
       |FROM walk GROUP BY node
       |ORDER BY part_key""".stripMargin

  /** Generated DuckDB twin of x04: lbl{i} is the label vector after i
    * rounds — same LEFT JOIN + LEAST combine, all-integer, so every
    * node's label after every round is pinned exactly. */
  val x04Sql: String = {
    val rounds = (0 until lpRounds).map { i =>
      s"""lbl${i + 1} AS MATERIALIZED (
         |  SELECT l.node,
         |         LEAST(l.lbl, COALESCE(m.nmin, l.lbl)) AS lbl
         |  FROM lbl$i l LEFT JOIN (
         |    SELECT e.dst, MIN(p.lbl) AS nmin
         |    FROM e JOIN lbl$i p ON e.src = p.node GROUP BY e.dst) m
         |  ON m.dst = l.node)""".stripMargin
    }
    s"""WITH $edgeSql,
       |lbl0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
       |${rounds.mkString(",\n")}
       |SELECT node AS part_key, lbl AS community,
       |       CAST(COUNT(*) OVER (PARTITION BY lbl) AS BIGINT)
       |         AS community_size
       |FROM lbl$lpRounds
       |ORDER BY part_key""".stripMargin
  }

  /** Generated DuckDB twin of x05: identical recurrence with the
    * teleport CASE'd onto the seed projection. */
  val x05Sql: String = {
    val rounds = (0 until prRounds).map { i =>
      s"""pr${i + 1} AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |         CASE WHEN e.dst % 20 = 0 THEN (SELECT b FROM base)
         |              ELSE 0 END + 85 * SUM(p.pr * e.w // o.outw) // 100
         |           AS pr
         |  FROM e JOIN pr$i p ON e.src = p.node JOIN o ON e.src = o.src
         |  GROUP BY e.dst)""".stripMargin
    }
    s"""WITH $edgeSql,
       |o AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM e GROUP BY 1),
       |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM o WHERE src % 20 = 0),
       |base AS (SELECT 15 * ${scale}::BIGINT // (100 * n) AS b FROM ns),
       |pr0 AS (SELECT src AS node,
       |               CASE WHEN src % 20 = 0
       |                    THEN (SELECT ${scale}::BIGINT // n FROM ns)
       |                    ELSE 0 END AS pr FROM o),
       |${rounds.mkString(",\n")}
       |SELECT o.src AS part_key, o.src % 20 = 0 AS is_seed,
       |       CAST(p.pr AS BIGINT) AS ppr_fp
       |FROM o JOIN pr$prRounds p ON o.src = p.node
       |ORDER BY part_key""".stripMargin
  }

  /** Generated DuckDB twin of x06: every large-star/small-star
    * alternation replayed literally — lsI/eI are the edge lists after
    * each half-step, all-integer, so the full contraction sequence is
    * pinned bit-exactly, not just the final labels. */
  val x06Sql: String = {
    val rounds = (0 until csRounds).map { i =>
      s"""d$i AS (SELECT a AS src, b AS dst FROM e$i
         |        UNION ALL SELECT b, a FROM e$i),
         |m$i AS (SELECT src, LEAST(MIN(dst), src) AS m
         |        FROM d$i GROUP BY src),
         |ls$i AS MATERIALIZED (
         |  SELECT DISTINCT m.m AS a, d.dst AS b
         |  FROM d$i d JOIN m$i m ON d.src = m.src
         |  WHERE d.dst > d.src),
         |m2$i AS (SELECT b, MIN(a) AS m FROM ls$i GROUP BY b),
         |e${i + 1} AS MATERIALIZED (
         |  SELECT DISTINCT a, b FROM (
         |    SELECT m2.m AS a, ls.a AS b
         |    FROM ls$i ls JOIN m2$i m2 ON ls.b = m2.b
         |    WHERE ls.a <> m2.m
         |    UNION ALL SELECT m, b FROM m2$i) t)""".stripMargin
    }
    s"""WITH $edgeSql,
       |e0 AS (SELECT src AS a, dst AS b FROM und),
       |${rounds.mkString(",\n")},
       |nodes AS (SELECT DISTINCT src AS node FROM e)
       |SELECT n.node AS part_key,
       |       COALESCE(s.a, n.node) AS component,
       |       CAST(COUNT(*) OVER (PARTITION BY COALESCE(s.a, n.node))
       |            AS BIGINT) AS component_size
       |FROM nodes n LEFT JOIN e$csRounds s ON s.b = n.node
       |ORDER BY part_key""".stripMargin
  }

  /** Generated DuckDB twin of x08: the derived threshold spelled in the
    * same integer arithmetic, then [[corePeelRounds]] peel rounds
    * materialized literally — each one degree-filter + two
    * endpoint-membership joins, all-integer. The engine's early exit
    * is invisible here: rounds at the fixpoint are the identity. */
  val x08Sql: String = {
    val rounds = (0 until corePeelRounds).map { i =>
      s"""kd$i AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
         |         FROM ke$i GROUP BY 1),
         |ke${i + 1} AS MATERIALIZED (
         |  SELECT t.src, t.dst
         |  FROM ke$i t JOIN kd$i a ON t.src = a.src
         |              JOIN kd$i b ON t.dst = b.src
         |  WHERE a.deg >= (SELECT k FROM kp)
         |    AND b.deg >= (SELECT k FROM kp))""".stripMargin
    }
    s"""WITH $edgeSql,
       |kp AS (SELECT 7 * (CAST(COUNT(*) AS BIGINT) //
       |                   CAST(COUNT(DISTINCT src) AS BIGINT)) // 10 AS k
       |       FROM e),
       |ke0 AS (SELECT src, dst FROM e),
       |${rounds.mkString(",\n")}
       |SELECT src AS part_key, (SELECT k FROM kp) AS core_k,
       |       CAST(COUNT(*) AS BIGINT) AS core_deg
       |FROM ke$corePeelRounds GROUP BY src
       |ORDER BY part_key""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x01_part_pagerank" -> x01Pagerank _,
    "x08_kcore" -> x08KCore _,
    "x02_part_triangles" -> x02Triangles _,
    "x03_bfs_hops" -> x03BfsHops _,
    "x04_label_communities" -> x04LabelCommunities _,
    "x05_personalized_pagerank" -> x05PersonalizedPagerank _,
    "x06_star_components" -> x06StarComponents _,
    "x07_pagerank_bucketed" -> x07PagerankBucketed _,
  )

  val oracles: Map[String, String] = Map(
    "x01_part_pagerank" -> x01Sql,
    "x02_part_triangles" -> x02Sql,
    "x03_bfs_hops" -> x03Sql,
    "x04_label_communities" -> x04Sql,
    "x05_personalized_pagerank" -> x05Sql,
    "x06_star_components" -> x06Sql,
    // identical masses by construction — the bucketed layout is a
    // physical-plan change only, so x01's generated chain is the oracle
    "x07_pagerank_bucketed" -> x01Sql,
    "x08_kcore" -> x08Sql,
  )
}
