package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
  * list. */
object Hits {

  /** Fixed-round synchronous HITS: auth(d) = Σ hub(s) over in-edges,
    * hub(s) = Σ auth(d) over out-edges, each side max-normalized per
    * round. Determinism contract: scores are rounded to 6 dp after the
    * normalize, sums aggregate those 6 dp values in DECIMAL (partial-
    * sum order irrelevant), and the max-normalizer divides the same
    * exact decimal-cast doubles in both engines — so a fixed round
    * count reproduces bit-identically (the g4/g7 rule:
    * fixed rounds as the contract, not a convergence gamble).
    * Max-normalization (not L2) keeps the per-round reduction a plain
    * max — no sqrt of a float sum. Per round: two edge joins + two
    * partial-aggregatable sums + two metadata-sized max reads;
    * `localCheckpoint` truncates the iterative lineage. */
  /** Minimum edge-row count before the per-round score frames are
    * broadcast (see [[run]]): below it the per-round broadcast build
    * costs more than the small edge shuffle it removes (measured r14 at
    * sf0.1: g9 3.79→4.57 s WITH broadcast on a ~600k-row edge frame);
    * above it the per-round edge shuffle dominates (measured r15 at
    * sf1: 18.8→13.0 s with broadcast on a ~6M-row frame, shuffle
    * 450→223 MB). The threshold sits between the two measured
    * regimes. */
  private val BcastEdgeRows = 2000000L

  def run(edges: DataFrame, rounds: Int = 3): DataFrame =
    run(edges, rounds, BcastEdgeRows)

  /** Threshold-explicit form so HitsSpec can pin both guard branches
    * (always-broadcast vs never) to bit-identical output. */
  private[graft] def run(edges: DataFrame, rounds: Int,
      bcastEdgeRows: Long): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint()
    // SCALE-ADAPTIVE join strategy for the per-round score joins
    // (guide §3.1 — pick the strategy deliberately): one stats pass
    // over the checkpointed edge frame (the Bfs/ShortestPaths pattern)
    // bounds the edge volume and the score-frame sizes. The node-sized
    // hub/auth frames broadcast ONLY when the edge frame is large
    // enough that re-shuffling+sorting it every round dominates the
    // per-round broadcast build (threshold measured at both SFs, see
    // [[BcastEdgeRows]]) AND the score frames fit the broadcast budget
    // (the PageRank.broadcastFits guard — never an OOM at 100×; ±2%
    // HLL error is noise against a 10 MB threshold).
    val st = e.agg(count(lit(1)),
      approx_count_distinct(col("src")),
      approx_count_distinct(col("dst"))).first()
    val scoreBound = (math.max(st.getLong(1), st.getLong(2)) * 1.05).toLong
    val useBcast = st.getLong(0) >= bcastEdgeRows &&
      PageRank.broadcastFits(e.sparkSession, scoreBound)
    def scoreSide(df: DataFrame): DataFrame =
      if (useBcast) broadcast(df) else df
    var hub = e.select(col("src")).distinct()
      .withColumn("hub", lit(1.0))
    var auth: DataFrame = null
    // eager release of superseded rounds (see Checkpoints.free): the
    // round-r araw/hraw checkpoints fold in the round-(r-1) frames, so
    // those become dead as soon as the successors materialize. The
    // FINAL pair stays — the returned plan projects auth/hub off it.
    var prevAraw: DataFrame = null
    var prevHraw: DataFrame = null
    for (_ <- 1 to rounds) {
      // checkpoint the RAW sums, not the normalized frame: the max-
      // normalizer action and the next-round join both consume them,
      // and an uncheckpointed araw would re-execute the edge join for
      // each consumer (the normalized projection needs no checkpoint
      // of its own — it is a row-local map over the materialized scan)
      val araw = e.join(scoreSide(hub), "src").groupBy(col("dst"))
        .agg(sum(col("hub").cast("decimal(18,6)")).as("raw_d"))
        .localCheckpoint()
      // araw is materialized — last round's hraw (feeding this round's
      // hub) and araw (consumed by last round's hraw) are both dead
      if (prevHraw ne null) graft.util.Checkpoints.free(prevHraw)
      if (prevAraw ne null) graft.util.Checkpoints.free(prevAraw)
      val amax = araw.agg(max(col("raw_d"))).first()
        .getDecimal(0).doubleValue
      auth = araw.select(col("dst"),
        round(col("raw_d").cast("double") / lit(amax), 6).as("auth"))
      val hraw = e.join(scoreSide(auth), "dst").groupBy(col("src"))
        .agg(sum(col("auth").cast("decimal(18,6)")).as("raw_d"))
        .localCheckpoint()
      val hmax = hraw.agg(max(col("raw_d"))).first()
        .getDecimal(0).doubleValue
      hub = hraw.select(col("src"),
        round(col("raw_d").cast("double") / lit(hmax), 6).as("hub"))
      prevAraw = araw
      prevHraw = hraw
    }
    graft.util.Checkpoints.free(e) // final araw/hraw are materialized
    auth.select(lit("authority").as("role"), col("dst").as("node"),
        col("auth").as("score"))
      .unionAll(hub.select(lit("hub").as("role"), col("src").as("node"),
        col("hub").as("score")))
  }

  /** DuckDB twin of [[run]]: rounds statically unrolled as CTEs. */
  def hitsSql(edgesSql: String, rounds: Int = 3): String = {
    val steps = (1 to rounds).map { t =>
      s"""a${t}r AS (SELECT dst,
         |    sum(CAST(hub AS DECIMAL(18,6))) AS raw_d
         |  FROM e JOIN h${t - 1} USING (src) GROUP BY 1),
         |a$t AS (SELECT dst, round(CAST(raw_d AS DOUBLE) /
         |    (SELECT CAST(max(raw_d) AS DOUBLE) FROM a${t}r), 6)
         |    AS auth
         |  FROM a${t}r),
         |h${t}r AS (SELECT src,
         |    sum(CAST(auth AS DECIMAL(18,6))) AS raw_d
         |  FROM e JOIN a$t USING (dst) GROUP BY 1),
         |h$t AS (SELECT src, round(CAST(raw_d AS DOUBLE) /
         |    (SELECT CAST(max(raw_d) AS DOUBLE) FROM h${t}r), 6)
         |    AS hub
         |  FROM h${t}r)""".stripMargin
    }
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM $edgesSql),
       |h0 AS (SELECT DISTINCT src, CAST('1' AS DOUBLE) AS hub FROM e),
       |${steps.mkString(", ")}
       |SELECT role, node, score FROM (
       |  SELECT 'authority' AS role, dst AS node, auth AS score
       |  FROM a$rounds
       |  UNION ALL
       |  SELECT 'hub', src, hub FROM h$rounds)
       |ORDER BY role, node""".stripMargin.replace('\n', ' ')
  }
}
