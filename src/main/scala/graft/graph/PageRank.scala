package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Damped PageRank over a directed edge list — the second iterative
  * graph operator next to [[ConnectedComponents]] (importance scoring
  * for reference/citation/link graphs; in training-data pipelines:
  * domain-authority weighting of web documents).
  *
  * Arithmetic is EXACT integer fixed-point (ranks in 1e-9 units, `div`
  * for every division): floating-point PageRank is not reproducible
  * across engines because per-node contribution sums reorder (1-ulp
  * drift compounds over iterations), while BIGINT sums are associative
  * — the DuckDB oracle unrolls the same iterations as chained CTEs and
  * hash-matches bit-for-bit. Dangling mass is dropped (the common
  * simplification), identically on both sides.
  *
  * Scale notes: each iteration is one shuffle join (ranks ⋈ edges on
  * src — at scale pre-partition both by src so iterations reuse the
  * partitioning) plus one groupBy(dst) hash aggregate with map-side
  * partials. The outdegree table joins broadcast when small, AQE
  * decides otherwise. Rank frames are `localCheckpoint`ed per round
  * (lineage truncation, same reasoning as ConnectedComponents).
  */
object PageRank {

  private val Unit9 = 1000000000L // 1.0 in fixed-point units

  /** Conservative per-row estimate for the (src, contrib) rate frame:
    * two longs + InternalRow/compression overhead. Used only to decide
    * whether the frame fits the broadcast budget — erring high degrades
    * to the always-safe shuffle join. */
  private val RateRowBytes = 32L

  /** The broadcastRanks hint is a HINT, not a command: broadcasting the
    * node-sized rate frame is only safe while it fits the session's
    * broadcast budget. On a connected graph the nonzero-rank set
    * converges to |nodes|, so an unconditional broadcast that is fine
    * at benchmark scale becomes a driver/executor OOM at 100× — the
    * guard re-checks the row bound against
    * spark.sql.autoBroadcastJoinThreshold and falls back to the same
    * shuffle join the unhinted path uses. Threshold ≤ 0 (broadcast
    * disabled) always refuses. */
  private[graft] def broadcastFits(
      spark: org.apache.spark.sql.SparkSession, rows: Long): Boolean = {
    val raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10m")
    val bytes =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
      catch { case _: NumberFormatException => 10L << 20 }
    bytes > 0 && rows * RateRowBytes <= bytes
  }

  /** The per-iteration join's build side: broadcast only when hinted
    * AND under-threshold (see [[broadcastFits]]); factored so the plan
    * shape is pinned by PlanShapeSpec on both sides of the guard. */
  private[graft] def rateSide(rates: DataFrame, hint: Boolean,
      rowBound: Long): DataFrame =
    if (hint && broadcastFits(rates.sparkSession, rowBound)) broadcast(rates)
    else rates

  /** SIZE-ADAPTIVE partition count for the cached loop-edge frame
    * (guide §2.2 — fewer, larger partitions), derived from the MEASURED
    * edge count, never from the core count. The upstream union+distinct
    * leaves 2×shuffle.partitions map partitions of tiny data; without
    * this every iteration re-scans the cache as that many tasks (64
    * observed at bench scale, ~50 ms scheduling+JIT floor each). The
    * per-partition row target balances task-scheduling overhead against
    * per-task join/aggregate compute (~1 µs/row ⇒ ~250 ms/task at
    * [[EdgeRowsPerPart]]); 2M-row partitions measured SLOWER at bench
    * scale (g9 3.0→4.8 s — the per-round join serialized onto one
    * core). At 100× the same formula yields thousands of partitions. */
  private[graft] def edgePartitions(edgeRows: Long): Int =
    math.min(math.max((edgeRows + EdgeRowsPerPart - 1) / EdgeRowsPerPart,
      1L), 1 << 18).toInt

  private val EdgeRowsPerPart = 250000L

  /** Coalesce `df` down to `target` partitions iff that is actually a
    * reduction (coalesce with a larger target is a planner no-op but
    * still clutters the plan). Shared by the iterative graph family. */
  private[graft] def sized(df: DataFrame, target: Int): DataFrame =
    if (df.rdd.getNumPartitions > target) df.coalesce(target) else df

  /** @param edges   (src, dst) directed edge list (distinct rows)
    * @param iters   fixed iteration count (deterministic termination)
    * @param damping damping numerator out of 100 (85 = the classic 0.85)
    * @param broadcastRanks hint the |nodes|-sized rank frame as the
    *        broadcast side, so the (much larger) cached edge table never
    *        re-shuffles — without it each iteration pays a full edge
    *        shuffle for the sort-merge join. Right whenever node count
    *        fits executor memory (dimension-like graphs); for web-scale
    *        node counts leave false and pre-partition edges by src so
    *        the per-iteration shuffle only moves the rank side. The
    *        hint is THRESHOLD-GUARDED (see [[broadcastFits]]): when the
    *        node count exceeds spark.sql.autoBroadcastJoinThreshold the
    *        shuffle join is used regardless, so a caller's small-scale
    *        hint can never become a large-scale OOM
    * @param assumeDistinct input edge rows are already distinct — skips
    *        the dedup shuffle (callers that build edges from a distinct
    *        pair set should pre-dedup the HALF-size pair list instead)
    * @param symmetric every edge (a,b) has its reverse (b,a) — true for
    *        undirected/bipartite-doubled graphs. Then every node is a
    *        src, so the node set IS outdeg's key set (skips a full-edge
    *        union+distinct shuffle) and every node receives in-mass each
    *        round (skips the per-iteration left join back to nodes)
    * @return (node, rank_units, rank) — rank = rank_units / 1e9 */
  def run(edges: DataFrame, iters: Int = 10, damping: Int = 85,
      broadcastRanks: Boolean = false, assumeDistinct: Boolean = false,
      symmetric: Boolean = false): DataFrame = {
    // the edge list is materialized exactly ONCE (cache) at a
    // SIZE-DERIVED partition count; the static outdeg column rides ON
    // the loop state (and, for the symmetric+broadcast regime, on the
    // cached edge rows), so an iteration is ONE join + one
    // partial-aggregating groupBy(dst) — no per-iteration ranks⋈outdeg
    // join at all (guide §2.4: two operations keyed the same way share
    // one pass; outdeg never changes, so re-joining it every round
    // bought nothing but a broadcast build per iteration). Each round
    // localCheckpoints: the NEXT round's broadcast would otherwise
    // rebuild the entire prior chain every time it is referenced
    // (quadratic recompute).
    val raw = edges.select(col("src"), col("dst"))
    val e0 = (if (assumeDistinct) raw else raw.distinct()).persist()
    // materialized once — each iteration runs in its own job (the
    // checkpoint boundary), so a lazy outdeg would re-aggregate the
    // full edge list five times over
    val outdeg = e0.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val nodes =
      if (symmetric) outdeg.select(col("src").as("node"))
      else e0.select(col("src").as("node"))
        .unionAll(e0.select(col("dst").as("node"))).distinct().persist()
    val n = nodes.count()
    val init = Unit9 / n                       // uniform start
    val base = (Unit9 / n) * (100L - damping) / 100L // teleport term
    val eParts = edgePartitions(e0.count()) // cache-local count, cheap
    // symmetric + in-budget broadcast: contribs cover every node, so
    // the next round's outdeg arrives through the aggregate itself —
    // max(dst_outdeg) over rows of one dst is the dst's outdeg. The
    // fold costs one broadcast join at build time and a long per cached
    // edge row; it removes the static-frame join from the loop.
    val foldDeg = symmetric && broadcastRanks && broadcastFits(
      e0.sparkSession, n)
    val e = sized(
      if (foldDeg)
        e0.join(broadcast(outdeg.select(col("src").as("dst"),
          col("outdeg").as("dst_outdeg"))), "dst")
      else e0, eParts).persist()
    e.count() // materialize the loop cache, then drop the staging one
    e0.unpersist()
    // nodes-with-outdeg static frame for the non-symmetric loop (the
    // left join back to the full node set already existed; it now also
    // carries outdeg so the rates projection is join-free)
    val nodesDeg =
      if (symmetric) null
      else nodes.join(outdeg.withColumnRenamed("src", "node"),
        Seq("node"), "left").localCheckpoint()
    // init state carries outdeg: (node, rank_units, outdeg) — a pure
    // projection over already-checkpointed frames, no checkpoint job
    var ranks =
      if (symmetric) outdeg.select(col("src").as("node"),
        lit(init).as("rank_units"), col("outdeg"))
      else nodesDeg.withColumn("rank_units", lit(init))
        .select(col("node"), col("rank_units"), col("outdeg"))
    for (_ <- 1 to iters) {
      // node-sized projection: rank_units div outdeg, computed BEFORE
      // the edge join (integer division per src — same value either
      // side of the join). Sink nodes (null outdeg) contribute nothing.
      val rates = ranks.filter(col("outdeg").isNotNull)
        .select(col("node").as("src"),
          expr("rank_units div outdeg").as("contrib"))
      // rates has at most one row per node — n bounds it from above
      val stepped = (if (foldDeg) {
        e.join(rateSide(rates, broadcastRanks, n), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(col("contrib")).as("in_mass"),
            max(col("dst_outdeg")).as("outdeg"))
          .select(col("node"),
            (lit(base) +
              expr(s"($damping * coalesce(in_mass, 0L)) div 100"))
              .as("rank_units"), col("outdeg"))
      } else {
        val contribs = e.join(rateSide(rates, broadcastRanks, n), "src")
          .select(col("dst").as("node"), col("contrib"))
          .groupBy(col("node"))
          .agg(sum(col("contrib")).as("in_mass"))
        (if (symmetric) contribs.join(
          outdeg.withColumnRenamed("src", "node"), Seq("node"), "left")
         else nodesDeg.join(contribs, Seq("node"), "left"))
          .select(col("node"),
            (lit(base) +
              expr(s"($damping * coalesce(in_mass, 0L)) div 100"))
              .as("rank_units"), col("outdeg"))
      }).localCheckpoint()
      // eager release of the superseded round (see Checkpoints.free)
      graft.util.Checkpoints.free(ranks)
      ranks = stepped
    }
    graft.util.Checkpoints.free(outdeg) // loop-only; last reader done
    if (nodesDeg != null) graft.util.Checkpoints.free(nodesDeg)
    // the result is materialized (checkpointed) — the caches backing the
    // iterations can drop so repeated runs in one session don't pile up
    val out = ranks.select(col("node"), col("rank_units"),
      (col("rank_units").cast("double") / 1e9).as("rank"))
    e.unpersist()
    if (!symmetric) nodes.unpersist()
    out
  }

  /** DuckDB twin: the same fixed-point iterations unrolled as chained
    * CTEs (`//` is DuckDB's integer division; all BIGINT casts mirror
    * the engine's long arithmetic). `edgesRel` must yield (src, dst). */
  def sql(edgesRel: String, iters: Int = 10, damping: Int = 85): String = {
    val pre =
      s"""edges AS (SELECT DISTINCT src, dst FROM $edgesRel),
         |nodes AS (SELECT src AS node FROM edges
         |  UNION SELECT dst FROM edges),
         |n AS (SELECT count(*) AS n FROM nodes),
         |params AS (SELECT
         |    CAST($Unit9 // n AS BIGINT) AS init,
         |    CAST(($Unit9 // n) * ${100L - damping} // 100 AS BIGINT)
         |      AS base FROM n),
         |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
         |it0 AS (SELECT node, init AS rank_units FROM nodes, params)"""
        .stripMargin.replace('\n', ' ')
    val steps = (1 to iters).map { k =>
      s"""it$k AS (
         |  SELECT n.node, CAST(base
         |    + ($damping * COALESCE(c.in_mass, 0)) // 100 AS BIGINT)
         |    AS rank_units
         |  FROM nodes n CROSS JOIN params
         |  LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(sum(r.rank_units // o.outdeg) AS BIGINT) AS in_mass
         |    FROM it${k - 1} r
         |    JOIN edges e ON r.node = e.src
         |    JOIN outdeg o ON e.src = o.src
         |    GROUP BY 1) c ON n.node = c.node)""".stripMargin
        .replace('\n', ' ')
    }.mkString(", ")
    s"WITH $pre, $steps SELECT node, rank_units, " +
      s"CAST(rank_units AS DOUBLE) / 1e9 AS rank FROM it$iters"
  }

  /** PERSONALIZED PageRank: teleport mass restarts at a source set S
    * instead of uniformly — rank becomes proximity TO S, the
    * recommendation / related-items / trust-propagation primitive
    * ("suppliers close to these seed suppliers"), where global
    * PageRank is plain importance.
    *
    * Same exact integer fixed-point discipline as [[run]] (BIGINT
    * 1e-9 units, `div` everywhere, oracle unrolls the identical
    * iterations). Differences: init = 1/|S| at sources, 0 elsewhere;
    * the per-round teleport lands only on S. Nodes outside S keep
    * rank 0 until mass walks to them, so each round's contribution
    * join filters `rank_units > 0` — early rounds touch only the
    * neighborhoods mass has actually reached (mirrored in the twin;
    * zero rows contribute zero, so the filter is semantics-free).
    *
    * Scale: identical per-iteration shape to [[run]] (one cached-edge
    * join + one partial-aggregating groupBy(dst)); the node-sized
    * (base, init) table materializes once. */
  def personalized(edges: DataFrame, sources: DataFrame, iters: Int = 5,
      damping: Int = 85, broadcastRanks: Boolean = false,
      assumeDistinct: Boolean = false,
      symmetric: Boolean = false): DataFrame = {
    val raw = edges.select(col("src"), col("dst"))
    val e0 = (if (assumeDistinct) raw else raw.distinct()).persist()
    val outdeg = e0.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val nodes =
      if (symmetric) outdeg.select(col("src").as("node"))
      else e0.select(col("src").as("node"))
        .unionAll(e0.select(col("dst").as("node"))).distinct()
    // sources restricted to graph nodes: outside seeds carry no mass
    val srcs = sources.select(col("node")).distinct()
      .join(nodes, Seq("node"), "left_semi").persist()
    val ns = srcs.count()
    require(ns > 0, "sources must intersect the graph's node set")
    val init = Unit9 / ns
    val baseSrc = (Unit9 / ns) * (100L - damping) / 100L
    // the static per-node frame CARRIES outdeg (guide §2.4): the loop
    // already joins back to it every round for the teleport base, so
    // the old separate per-iteration rates⋈outdeg join (one broadcast
    // build per round) bought nothing — outdeg rides on the state rows
    val withBase = nodes
      .join(srcs.withColumn("is_src", lit(true)), Seq("node"), "left")
      .join(outdeg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(col("node"),
        when(col("is_src"), lit(baseSrc)).otherwise(lit(0L)).as("base"),
        when(col("is_src"), lit(init)).otherwise(lit(0L)).as("init"),
        col("outdeg"))
      .localCheckpoint()
    // broadcast-guard bound: the rate frame starts seed-sized but on a
    // connected graph converges to the full node set — guard on |nodes|
    // (= withBase rows, already materialized), not the seed count
    val nNodes = withBase.count()
    // loop cache at a size-derived partition count (guide §2.2; see run)
    val e = sized(e0, edgePartitions(e0.count())).persist()
    e.count()
    e0.unpersist()
    // init state: pure projection over the checkpointed withBase
    var ranks = withBase.select(col("node"), col("init").as("rank_units"),
      col("outdeg"))
    for (_ <- 1 to iters) {
      val rates = ranks
        .filter(col("rank_units") > 0 && col("outdeg").isNotNull)
        .select(col("node").as("src"),
          expr("rank_units div outdeg").as("contrib"))
      val contribs = e.join(rateSide(rates, broadcastRanks, nNodes), "src")
        .select(col("dst").as("node"), col("contrib"))
        .groupBy(col("node"))
        .agg(sum(col("contrib")).as("in_mass"))
      val stepped = withBase.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (col("base") + expr(s"($damping * coalesce(in_mass, 0L)) div 100"))
            .as("rank_units"), col("outdeg"))
        .localCheckpoint()
      // eager release of the superseded round (see Checkpoints.free)
      graft.util.Checkpoints.free(ranks)
      ranks = stepped
    }
    graft.util.Checkpoints.free(outdeg)
    graft.util.Checkpoints.free(withBase)
    val out = ranks.select(col("node"), col("rank_units"),
      (col("rank_units").cast("double") / 1e9).as("rank"))
    e.unpersist()
    srcs.unpersist()
    out
  }

  /** DuckDB twin of [[personalized]]: identical unrolled fixed-point
    * iterations; `sourcesRel` must yield a `node` column. */
  def personalizedSql(edgesRel: String, sourcesRel: String,
      iters: Int = 5, damping: Int = 85): String = {
    val pre =
      s"""edges AS (SELECT DISTINCT src, dst FROM $edgesRel),
         |nodes AS (SELECT src AS node FROM edges
         |  UNION SELECT dst FROM edges),
         |srcs AS (SELECT DISTINCT node FROM ($sourcesRel)
         |  WHERE node IN (SELECT node FROM nodes)),
         |ns AS (SELECT count(*) AS ns FROM srcs),
         |params AS (SELECT
         |    CAST($Unit9 // ns AS BIGINT) AS init,
         |    CAST(($Unit9 // ns) * ${100L - damping} // 100 AS BIGINT)
         |      AS basesrc FROM ns),
         |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
         |wb AS (SELECT n.node,
         |    CASE WHEN s.node IS NOT NULL THEN basesrc
         |      ELSE CAST(0 AS BIGINT) END AS base,
         |    CASE WHEN s.node IS NOT NULL THEN init
         |      ELSE CAST(0 AS BIGINT) END AS init
         |  FROM nodes n CROSS JOIN params
         |  LEFT JOIN srcs s ON n.node = s.node),
         |it0 AS (SELECT node, init AS rank_units FROM wb)"""
        .stripMargin.replace('\n', ' ')
    val steps = (1 to iters).map { k =>
      s"""it$k AS (
         |  SELECT w.node, CAST(w.base
         |    + ($damping * COALESCE(c.in_mass, 0)) // 100 AS BIGINT)
         |    AS rank_units
         |  FROM wb w
         |  LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(sum(r.rank_units // o.outdeg) AS BIGINT) AS in_mass
         |    FROM it${k - 1} r
         |    JOIN edges e ON r.node = e.src
         |    JOIN outdeg o ON e.src = o.src
         |    WHERE r.rank_units > 0
         |    GROUP BY 1) c ON w.node = c.node)""".stripMargin
        .replace('\n', ' ')
    }.mkString(", ")
    s"WITH $pre, $steps SELECT node, rank_units, " +
      s"CAST(rank_units AS DOUBLE) / 1e9 AS rank FROM it$iters"
  }
}
