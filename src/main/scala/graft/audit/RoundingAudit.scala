package graft.audit

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Round}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType, FloatType}

/** Rounding-robustness audit of the oracle surface (round-8, VERDICT
  * ask #2): the ml15/x70 driver failures were instances of a CLASS —
  * `round(double, d)` on a data-dependent value at a rounding
  * boundary resolves differently across engines and engine versions.
  * This audit turns "we got lucky on every boundary the data hits"
  * into a per-round-site measurement.
  *
  * Method — root-level tie detection, not output diffing: every
  * [[Round]] site in a query's analyzed plan is wrapped in
  * [[AuditedRound]], which computes the identical HALF_UP result but
  * ALSO classifies every value it rounds:
  *
  *  - '''no tie''': the value's decimal form does not end in 5 at the
  *    rounding scale — every engine and every convention agrees;
  *  - '''exact tie''': the value is EXACTLY x.5·10⁻ᵈ (its binary
  *    expansion equals the boundary — dyadic means like 51.40625,
  *    AQI interpolations landing on 2.5). Spark's HALF_UP and the
  *    away-from-zero double/decimal rounding of DuckDB/Trino/Postgres
  *    all agree here; only a half-even (banker's) engine would
  *    differ. Seven rounds of driver greens on the AQI surface pin
  *    this class as cross-engine stable — ACCEPTED and enumerated.
  *  - '''INEXACT tie''': the value's SHORTEST decimal string ends in
  *    5 at the scale but its binary expansion is NOT the boundary
  *    (e.g. the double nearest 2.6788205). Spark's string-based
  *    rounding sees a tie and rounds up; a binary-path engine
  *    compares against the true boundary and can round down — the
  *    exact mechanism that hash-failed ml15/x70 on the driver's
  *    DuckDB. Any query with inexact ties is a VIOLATION and must
  *    move to the integer/fixed-point discipline.
  *
  * Because the oracle twins evaluate bit-identical IEEE trees, the
  * classification of the Spark-side value stream applies verbatim to
  * the DuckDB twin's rounds. Counter side-channel is single-JVM —
  * exactly the local[] audit/test environment; the audit is a tool,
  * not a production operator.
  *
  * Queries whose oracle SQL says `round(` while the Spark plan has no
  * Round expression must carry a ledger justification in
  * [[oracleOnlyJustified]] (exact integral no-op quantizations,
  * rounds already executed inside streaming/sink/iterative jobs whose
  * lineage is truncated, driver-side exact-integer recursions) — the
  * lint fails on any unledgered query.
  *
  * Run: `scripts/run.sh graft.audit.RoundingAudit <sfDir> [out.md]`;
  * ROUNDING_AUDIT.md records the sf0.01 run (the driver's
  * correctness-gate scale). RoundingAuditSpec runs the same machinery
  * in the suite and pins the class membership. */
object RoundingAudit {

  /** Per-query tie counters (queries audited sequentially; reset
    * before each). Single-JVM by design — see scaladoc. */
  object Counters {
    val noTie = new LongAdder
    val exactTie = new LongAdder
    val inexactTie = new LongAdder
    val decimalTie = new LongAdder
    val inexactSamples =
      java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    def reset(): Unit = {
      noTie.reset(); exactTie.reset(); inexactTie.reset()
      decimalTie.reset(); inexactSamples.clear()
    }
  }

  /** Classify one rounded double: 0 = no tie, 1 = exact binary tie,
    * 2 = inexact (string-only) tie. Exposed for the spec. */
  def classifyDouble(v: Double, scale: Int): Int = {
    if (v.isNaN || v.isInfinite) return 0
    val shortest = java.math.BigDecimal.valueOf(v)
    val half = shortest.movePointRight(scale)
      .remainder(java.math.BigDecimal.ONE).abs
      .compareTo(new java.math.BigDecimal("0.5")) == 0
    if (!half) 0
    else if (new java.math.BigDecimal(v).compareTo(shortest) == 0) 1
    else 2
  }

  /** Drop-in Round wrapper: identical HALF_UP semantics (delegates to
    * Spark's own Round), plus per-value tie classification into
    * [[Counters]]. Non-codegen — audit runs only. */
  case class AuditedRound(child: Expression, scaleE: Expression)
      extends Expression with CodegenFallback {
    private lazy val inner = Round(child, scaleE)
    private lazy val scaleV: Int = scaleE.eval().asInstanceOf[Int]
    override def children: Seq[Expression] = Seq(child, scaleE)
    override def dataType: DataType = inner.dataType
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val v = child.eval(input)
      if (v != null) child.dataType match {
        case DoubleType => record(v.asInstanceOf[Double])
        case FloatType => record(v.asInstanceOf[Float].toDouble)
        case _: DecimalType =>
          val bd = v.asInstanceOf[Decimal].toJavaBigDecimal
          val half = bd.movePointRight(scaleV)
            .remainder(java.math.BigDecimal.ONE).abs
            .compareTo(new java.math.BigDecimal("0.5")) == 0
          if (half) Counters.decimalTie.increment()
          else Counters.noTie.increment()
        case _ => Counters.noTie.increment()
      }
      inner.eval(input)
    }
    private def record(d: Double): Unit = classifyDouble(d, scaleV) match {
      case 0 => Counters.noTie.increment()
      case 1 => Counters.exactTie.increment()
      case 2 =>
        Counters.inexactTie.increment()
        if (Counters.inexactSamples.size() < 8)
          Counters.inexactSamples.add(s"$d@$scaleV")
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren(0), scaleE = newChildren(1))
  }

  sealed trait Result { def tag: String }
  /** Round sites present; every rounded value classified. */
  case class Audited(sites: Int, rows: Long, noTie: Long,
      exactTie: Long, decimalTie: Long, inexactTie: Long,
      samples: Seq[String]) extends Result {
    def clean: Boolean = inexactTie == 0
    def tag: String =
      if (inexactTie > 0)
        s"INEXACT TIES x$inexactTie (${samples.mkString(", ")})"
      else if (exactTie + decimalTie > 0)
        s"tie-exact (exact=$exactTie dec=$decimalTie of " +
          s"${noTie + exactTie + decimalTie} rounds, $sites sites)"
      else s"tie-free (${noTie} rounds, $sites sites)"
  }
  case object NoRound extends Result { def tag = "no-round" }
  case class Failed(msg: String) extends Result {
    def tag = s"FAILED: $msg"
  }

  /** Justifications for oracle twins that say `round(` while the
    * Spark plan carries no Round expression. */
  val oracleOnlyJustified: Map[String, String] = Map(
    // rounds executed inside iterative jobs whose lineage the
    // per-round localCheckpoint truncates (6-dp-term discipline
    // inside the loop; the loop output is what the oracle replays)
    // — g9_hits left OUT: its final normalization round rides the
    // returned plan again since the round-10 checkpoint rework, so
    // the audit sees it directly
    "ml7_logistic_irls" -> "IRLS loop; rounds inside checkpointed iters",
    "ml23_maximin_init" -> "seeding loop; rounds inside checkpoints",
    "sim9_mmr_rerank" -> "greedy loop; rounds inside checkpointed rounds",
    // rounds executed inside a materialized stage boundary
    // (localCheckpoint) — the returned plan starts from the
    // checkpointed RDD, so the Round sites ran before the audit wraps
    "d12_semantic_dedup" ->
      ("centroid assignment materialized once (round-11); rounds ran" +
        " inside the checkpointed stage"),
    "t39_capstone_pipeline" ->
      ("clean/dedup stage boundaries localCheckpoint (round 10);" +
        " rounds ran inside them"),
    "x92_holt_winters" ->
      ("day-grain driver recursion in exact ints (HoltWintersSpec);" +
        " smoothing rounds precede the returned frame"),
    "x93_forecast_backtest" ->
      "per-fold fit materialized; rounds inside the fold jobs",
    // offline model fit + foreachBatch scoring both execute before
    // the returned verdict frame (a bare scan of the sink)
    "s20_stream_dsir_gate" ->
      ("lambda fit + per-batch scoring ran in offline/stream jobs;" +
        " t40 audits the identical round tree in-plan"),
    // sink round-trips: the rounds ran in the writer job; the
    // returned frame is a bare scan of the written files
    "io1_json_roundtrip" -> "sink round-trip; rounds in writer job",
    "io2_orc_roundtrip" -> "sink round-trip; rounds in writer job",
    "s4_partitioned_write" -> "sink round-trip; rounds in writer job",
    "s9_csv_roundtrip" -> "sink round-trip; rounds in writer job",
    // streaming jobs: rounds executed inside the micro-batch; batch
    // twins with identical trees are audited directly
    "s2_stream_silver" -> "streaming job; p5 batch twin audited",
    "s5_stream_gold" -> "streaming job; a1 batch twin audited",
    "x13_stream_enrich" -> "streaming job; batch join twin audited",
    "s15_stream_baseline_alert" ->
      ("streaming job; oracle IS the identical batch computation " +
        "and its cents thresholds are integer rank-picks"),
    // driver-side exact-integer recursion
    "x85_holt_forecast" ->
      "driver recursion in exact milli-cent ints (HoltSpec)",
    // oracle-side exact integral quantization (Spark side casts)
    "x72_markov_attribution" -> "micro-unit integral quantization",
    "x88_seasonal_outliers" ->
      "cents quantization round(o_totalprice*100) no-op")

  /** Audit one query: wrap every Round site, execute once, read the
    * per-value tie counters. */
  /** Wrap every Round in `analyzed` and execute, counting ties. */
  private def runAudit(spark: SparkSession,
      analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Result = {
    var sites = 0
    val wrapped = analyzed.transformAllExpressions {
      case r: Round => sites += 1; AuditedRound(r.child, r.scale)
    }
    if (sites == 0) NoRound
    else {
      Counters.reset()
      // toRdd (not count()): a count on top would let the optimizer
      // prune the output projection and skip the audited rounds
      val rows = org.apache.spark.sql.graft.Bridge
        .ofRows(spark, wrapped).queryExecution.toRdd.count()
      import scala.jdk.CollectionConverters._
      Audited(sites, rows, Counters.noTie.sum(),
        Counters.exactTie.sum(), Counters.decimalTie.sum(),
        Counters.inexactTie.sum(),
        Counters.inexactSamples.asScala.toList)
    }
  }

  def auditOne(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame,
      sfDir: String): Result =
    try {
      val df = fn(spark, sfDir)
      // R1 moved into the AqiBreakpoint kernel (round 13) whose
      // HALF_UP is internal — swap it for its executable when-chain
      // spec (AqiExprSpec pins the equivalence) so the flagship
      // rounding stays tie-audited. The chain comes from the Column
      // API (unresolved `round` calls), so the substituted plan goes
      // through the analyzer once before the Round wrap.
      val base = df.queryExecution.analyzed
      // substitution + re-analysis/execution of a rewritten
      // already-analyzed plan can trip converter/analyzer requirements
      // on exotic shapes (grouping sets, view-backed SQL) — fall back
      // to the original plan there: its OTHER Round sites still
      // audit, only R1's kernel-internal HALF_UP stays
      // un-instrumented for that one query (it remains pinned by
      // AqiExprSpec's dense grid)
      val substituted =
        try {
          var kernels = 0
          val pre = base.transformAllExpressions {
            case ab: graft.expr.AqiBreakpoint =>
              kernels += 1
              org.apache.spark.sql.graft.Bridge.eagerExpression(
                graft.expr.Aqi.aqiWhenChain(
                  org.apache.spark.sql.graft.Bridge.column(ab.left),
                  org.apache.spark.sql.graft.Bridge.column(ab.right)))
          }
          if (kernels == 0) None
          else Some(runAudit(spark, org.apache.spark.sql.graft.Bridge
            .ofRows(spark, pre).queryExecution.analyzed))
        } catch { case _: Throwable => None }
      substituted.getOrElse(runAudit(spark, base))
    } catch { case e: Throwable =>
      Failed(Option(e.getMessage).getOrElse(e.getClass.getName))
    }

  /** @return (name, oracleMentionsRound, result) rows, sorted. */
  def run(spark: SparkSession, sfDir: String,
      only: Option[Set[String]] = None): Seq[(String, Boolean, Result)] = {
    val oracleHits = graft.SparkEntry.oracleSql
      .filter(_._2.toLowerCase.contains("round(")).keySet
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        (name, oracleHits.contains(name), auditOne(spark, name, fn, sfDir))
      }
  }

  /** Lint verdict: no inexact ties anywhere; every oracle `round(`
    * hit audited or ledger-justified; ledger not stale. */
  def violations(rows: Seq[(String, Boolean, Result)],
      fullSurface: Boolean = true): Seq[String] = {
    val v = Seq.newBuilder[String]
    rows.foreach {
      case (n, _, a: Audited) if !a.clean => v += s"$n: ${a.tag}"
      case (n, true, NoRound) if !oracleOnlyJustified.contains(n) =>
        v += s"$n: oracle says round( but Spark plan has no Round " +
          "and no justification is ledgered"
      case (n, _, f: Failed) => v += s"$n: ${f.tag}"
      case _ =>
    }
    if (fullSurface) {
      val names = rows.map(_._1).toSet
      oracleOnlyJustified.keys.filterNot(names.contains).foreach(n =>
        v += s"$n: stale justification (not a registered query)")
      rows.foreach {
        case (n, hit, r) =>
          if (oracleOnlyJustified.contains(n) && r != NoRound)
            v += s"$n: justified as oracle-only but plan HAS Round"
          if (oracleOnlyJustified.contains(n) && !hit)
            v += s"$n: justified but oracle has no round( — stale"
        case _ =>
      }
    }
    v.result()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outMd = args.lift(1)
    val spark = graft.Session.build()
    spark.sparkContext.setLogLevel("ERROR")
    val only = graft.Session.only
    val t0 = System.nanoTime()
    val rows = run(spark, sfDir, only)
    val secs = (System.nanoTime() - t0) / 1e9
    val audited = rows.collect { case (n, _, a: Audited) => (n, a) }
    val tieFree = audited.filter(r => r._2.clean &&
      r._2.exactTie + r._2.decimalTie == 0)
    val tieExact = audited.filter(r => r._2.clean &&
      r._2.exactTie + r._2.decimalTie > 0)
    val noRound = rows.collect { case (n, h, NoRound) => (n, h) }
    val bad = violations(rows, fullSurface = only.isEmpty)
    val md = new StringBuilder
    md ++= s"# ROUNDING_AUDIT — $sfDir\n\n"
    md ++= "Method: every Round site in every registered query's " +
      "plan is wrapped in a tie-classifying delegate " +
      "(graft.audit.RoundingAudit.AuditedRound); every value " +
      "actually rounded is classified no-tie / exact-binary-tie / " +
      "INEXACT string-tie. Inexact ties are the engine-divergent " +
      "class that hash-failed ml15/x70 and are build violations; " +
      "exact ties are stable under every away-from-zero engine " +
      "(all practical SQL engines) and are enumerated below.\n\n"
    md ++= s"- queries: ${rows.size} audited in ${secs.round} s\n"
    md ++= s"- with Round sites: ${audited.size} " +
      s"(tie-free ${tieFree.size}, tie-exact ${tieExact.size})\n"
    md ++= s"- inexact-tie violations: " +
      s"${audited.count(!_._2.clean)}\n"
    md ++= s"- no Round in plan: ${noRound.size} (oracle-side " +
      s"round( mentions, ledger-justified: ${noRound.count(_._2)})\n"
    md ++= s"- lint violations: ${bad.size}\n\n"
    if (bad.nonEmpty) {
      md ++= "## VIOLATIONS\n\n"
      bad.foreach(b => md ++= s"- $b\n"); md ++= "\n"
    }
    md ++= "## Tie-exact queries (accepted class — exact binary " +
      "boundaries; away-from-zero engines agree)\n\n"
    md ++= "| query | sites | rounds | exact ties | decimal ties |\n"
    md ++= "|---|---|---|---|---|\n"
    tieExact.foreach { case (n, a) =>
      md ++= s"| $n | ${a.sites} | ${a.noTie + a.exactTie + a.decimalTie} " +
        s"| ${a.exactTie} | ${a.decimalTie} |\n"
    }
    md ++= "\n## Tie-free queries\n\n"
    md ++= tieFree.map(_._1).mkString(", ") + "\n"
    md ++= "\n## Oracle-only round( mentions (justified)\n\n"
    md ++= "| query | justification |\n|---|---|\n"
    noRound.filter(_._2).foreach { case (n, _) =>
      md ++= s"| $n | ${oracleOnlyJustified.getOrElse(n, "MISSING")} |\n"
    }
    outMd.foreach(p => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p), md.result()))
    println(md.result())
    if (bad.nonEmpty) { spark.stop(); sys.exit(1) }
    spark.stop()
  }
}
