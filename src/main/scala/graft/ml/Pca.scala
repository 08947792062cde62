package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PCA, top principal component by POWER ITERATION (ml18)
  * — the dimensionality-reduction / whitening primitive ANN and
  * embedding pipelines run before indexing (sim2/sim6/sim8 all
  * consume raw vectors; this is the op that would rotate them). The
  * full eigendecomposition never touches the corpus: PCA at scale is
  * always "reduce to the d×d covariance, iterate on the tiny matrix".
  *
  * Stage shape (the 100 TB story):
  *  1. ONE corpus pass builds the d² second-moment sums and the d
  *     column sums — n·d² products reduced by partial aggregation to
  *     a d²-row table (d = 64 → 4096 rows, metadata at any SF);
  *  2. the covariance matrix C_ij = S_ij/n − μ_i μ_j materializes
  *     once (localCheckpoint) — everything after runs on ≤ d² rows;
  *  3. 20 power iterations v ← C·v/‖C·v‖ on d-row frames, each one
  *     broadcast-join + aggregate; ‖C·v‖ of the final iterate IS the
  *     dominant eigenvalue; explained share = λ / trace(C).
  *
  * Cross-engine determinism (the x72/t27 discipline, floating-point
  * edition): every sum that a parallel engine could reorder runs over
  * terms ROUNDED once to a fixed scale and summed in DECIMAL — the
  * moment sums (12 dp), the mat-vec products (12 dp), the norm
  * squares (12 dp), the trace (9 dp via exact decimal cast of the
  * already-9dp matrix); the iterate re-QUANTIZES to 9 dp after each
  * normalize, so both engines walk bit-identical states for all 20
  * iterations and agree on every output digit. The start vector
  * 1/√d = 0.125 is exactly representable. Sign convention is whatever
  * the iteration converges to from that start — deterministic. */
object Pca {

  /** @return one row per dimension: (dim, v, lambda, explained_share)
    *         — the unit top component, its eigenvalue, and λ/tr(C). */
  def topComponent(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", dims: Int = 64,
      iters: Int = 20): DataFrame = {
    val spark = emb.sparkSession
    // AUGMENTED-MOMENT trick: a virtual dimension 0 with constant 1.0
    // rides the same self-join, so ONE aggregate yields every moment —
    // sp(0,0) = n, sp(0,j) = Σx_j, sp(i,j) = Σx_i·x_j. The whole
    // corpus contribution is this single pass; no separate count /
    // column-sum jobs, no broadcast joins to assemble the matrix.
    // Components quantize ONCE to 1e-6 units (exact integers), so the
    // n·d² product stage is pure LONG multiplies with an exact
    // DECIMAL(38,0) accumulate — no per-product BigDecimal rounding
    // in the hot loop (measured 3-4 s of the original runtime at d=64;
    // rounding n·d² doubles to 12 dp cost more than everything else
    // combined). Headroom: |u| ≤ 1e6·|x|, products ≤ 1e12·|x|², and
    // the decimal sum is exact at any n.
    // The (i, j) product pairs are generated ROW-LOCALLY by two stacked
    // posexplodes over the per-row quantized array (virtual dimension 0
    // prepended), instead of shuffling an n·(d+1)-row exploded table
    // through a self-join on vid (guide §2.4 — the join keyed on vid
    // existed only to pair a row with itself; no bytes need to cross an
    // exchange before the d²-group partial aggregate). Same u values,
    // same product multiset per (i, j), same order-free DECIMAL sum —
    // sij is bit-identical.
    val uarr = concat(
      array(lit(1000000L)),
      transform(col(vecCol),
        x => round(x.cast("double") * lit(1000000)).cast("long")))
    // A NULL vector is not a point: both engines drop it before the
    // moments, so it counts toward neither n nor any sum.
    val sp = emb.filter(col(vecCol).isNotNull)
      .select(uarr.as("ua"))
      .select(col("ua"), posexplode(col("ua")))
      .select(col("pos").as("i"), col("col").as("u"),
        posexplode(col("ua")))
      .groupBy(col("i"), col("pos").as("j"))
      .agg(sum((col("u") * col("col")).cast("decimal(38,0)"))
        .as("sij"))
    // Everything below runs DRIVER-SIDE on the collected (d+1)²-row
    // moment table — the x72 metadata-collect pattern (a row per
    // matrix ENTRY, never per record). Measured: a Spark plan per
    // iteration costs ~0.6 s of Catalyst compilation each (20 plans ≈
    // 12 s) for microseconds of arithmetic. Bit-parity with the
    // oracle's unrolled CTEs is preserved by replicating the EXACT
    // library calls Spark's expressions compile to: round(x, s) =
    // BigDecimal(x).setScale(s, HALF_UP).toDouble (Catalyst Round on
    // DoubleType), DECIMAL sums are exact BigDecimal additions
    // (order-free), decimal→double is BigDecimal.doubleValue (the
    // conversion Decimal.toDouble makes). The 12 dp quantized terms
    // round-trip double↔decimal exactly while |value| < 4.5e3 (ulp <
    // 1e-12) — satisfied by unit-scale embedding moments by orders of
    // magnitude.
    def r(x: Double, s: Int): BigDecimal =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP)
    val spMap = sp.collect()
      .map(row => ((row.getInt(0), row.getInt(1)),
        row.getDecimal(2))).toMap
    // Every sp(0,·) row carries the virtual dimension's 1e6 factor:
    // sp(0,0) = n·1e12 and sp(0,i) = 1e6·Σuᵢ = 1e12·Σxᵢ — so ALL
    // moment reads divide by 1e12, spelled exactly as the twin's
    // (CAST(s AS DOUBLE) / 1e12) / n
    val nD = spMap((0, 0)).doubleValue / 1e12
    def s1(i: Int): Double = spMap((0, i)).doubleValue / 1e12
    // C_ij = S_ij/n − μ_i·μ_j, rounded once to 9 dp — the matrix both
    // engines iterate on
    val mVal = Array.tabulate(dims, dims) { (a, b) =>
      val (i, j) = (a + 1, b + 1)
      r(spMap((i, j)).doubleValue / 1e12 / nD -
        (s1(i) / nD) * (s1(j) / nD), 9).toDouble
    }
    var vArr = Array.fill(dims)(0.125)
    var lambda = 0.0
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dims) { a =>
        (0 until dims).foldLeft(BigDecimal(0)) { (acc, b) =>
          acc + r(mVal(a)(b) * vArr(b), 12)
        }.toDouble
      }
      val n2 = w.map(x => r(x * x, 12)).foldLeft(BigDecimal(0))(_ + _)
      lambda = math.sqrt(n2.toDouble)
      vArr = w.map(x => r(x / lambda, 9).toDouble)
    }
    val trace = (0 until dims)
      .foldLeft(BigDecimal(0))((acc, a) => acc + r(mVal(a)(a), 9))
      .toDouble
    val vLit: Seq[(Int, Double)] =
      (1 to dims).map(j => (j, vArr(j - 1)))
    import spark.implicits._
    vLit.toDF("j", "vj")
      .select(col("j").cast("long").as("dim"), round(col("vj"), 6).as("v"),
        round(lit(lambda), 6).as("lambda"),
        round(lit(lambda) / lit(trace), 6).as("explained_share"))
      .orderBy("dim")
  }

  /** DuckDB twin of [[topComponent]]: the same moment reduction and 20
    * unrolled power iterations as MATERIALIZED CTEs. */
  def topComponentSql(dims: Int = 64, iters: Int = 20): String = {
    val head =
      s"""WITH x AS (SELECT vec_id AS vid, t.i,
         |    CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000, 0)
         |      AS BIGINT) AS u
         |  FROM embeddings CROSS JOIN
         |    unnest(range(1, ${dims + 1})) AS t(i)
         |  WHERE embedding IS NOT NULL
         |  UNION ALL
         |  SELECT vec_id AS vid, 0 AS i, CAST(1000000 AS BIGINT) AS u
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |sp AS MATERIALIZED (SELECT a.i, b.i AS j,
         |    sum(CAST(a.u * b.u AS DECIMAL(38,0))) AS sij
         |  FROM x a JOIN x b ON a.vid = b.vid GROUP BY 1, 2),
         |nn AS (SELECT CAST(sij AS DOUBLE) / 1e12 AS n
         |  FROM sp WHERE i = 0 AND j = 0),
         |m AS MATERIALIZED (SELECT sp.i, sp.j, round(
         |    (CAST(sp.sij AS DOUBLE) / 1e12) / n -
         |    ((CAST(a.sij AS DOUBLE) / 1e12) / n) *
         |    ((CAST(b.sij AS DOUBLE) / 1e12) / n), 9) AS m
         |  FROM sp
         |  JOIN sp a ON a.i = 0 AND a.j = sp.i
         |  JOIN sp b ON b.i = 0 AND b.j = sp.j
         |  CROSS JOIN nn
         |  WHERE sp.i >= 1 AND sp.j >= 1),
         |it0 AS (SELECT i AS j, CAST('0.125' AS DOUBLE) AS vj
         |  FROM (SELECT unnest(range(1, ${dims + 1})) AS i))"""
        .stripMargin
    val its = (1 to iters).map { k =>
      s"""w$k AS (SELECT m.i AS j,
         |    sum(CAST(round(m.m * v.vj, 12) AS DECIMAL(38,12))) AS w
         |  FROM m JOIN it${k - 1} v ON v.j = m.j GROUP BY 1),
         |n$k AS (SELECT sqrt(CAST(sum(CAST(round(
         |    CAST(w AS DOUBLE) * CAST(w AS DOUBLE), 12)
         |    AS DECIMAL(38,12))) AS DOUBLE)) AS nr FROM w$k),
         |it$k AS MATERIALIZED (SELECT j,
         |    round(CAST(w AS DOUBLE) / nr, 9) AS vj
         |  FROM w$k CROSS JOIN n$k)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val tail =
      s""",tr AS (SELECT CAST(sum(CAST(m AS DECIMAL(38,9))) AS DOUBLE)
         |    AS trace FROM m WHERE i = j)
         |SELECT j AS dim, round(vj, 6) AS v, round(nr, 6) AS lambda,
         |  round(nr / trace, 6) AS explained_share
         |FROM it$iters CROSS JOIN n$iters CROSS JOIN tr
         |ORDER BY dim""".stripMargin
    (head + its + tail).replace('\n', ' ')
  }
}
