package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a testdata SF directory by key-remapped
  * replication (round-14, VERDICT ask #4: extend the scaling-exponent
  * table a decade past the largest harness-shipped SF).
  *
  * Each fact/dim row is replicated `factor` times; replica r's keys
  * shift by r·OFFSET (one fixed power of ten per key domain, far above
  * any real key), so referential integrity is preserved WITHIN a
  * replica and replicas never collide: the result is `factor`
  * interleaved, disjoint copies of the original relational world —
  * joins/aggregations/graphs scale their data volume by `factor` with
  * the same per-replica structure and selectivities, which is exactly
  * the workload shape a scaling exponent should be measured on.
  * region/nation are fixed dimensions (every replica shares them, like
  * every TPC-H SF shares the 25 nations).
  *
  * Content columns that would otherwise create cross-replica artifacts
  * are perturbed deterministically:
  *  - documents.text gets a per-replica suffix token for r > 0 (and
  *    n_chars is recomputed), so WITHIN-replica duplicate structure is
  *    preserved exactly while replicas don't alias into one giant
  *    cross-replica duplicate class (which would 10× the dup fraction
  *    instead of keeping it invariant);
  *  - embeddings.embedding is rotated by r positions (norm-preserving,
  *    deterministic), so ANN neighborhoods stay replica-local instead
  *    of every vector gaining 9 exact twins.
  *
  * Every transform is a single scan × `factor` cross join with a
  * replica range — no shuffle; write-out partitions by nothing (the
  * harness files aren't partitioned either). */
object ScaleUp {

  private val KeyOff = 10000000L   // orderkey/event_id domain
  private val DimOff = 1000000L    // cust/supp/part/user/doc/vec domain

  private def replicate(df: DataFrame, factor: Int): DataFrame =
    df.crossJoin(
      org.apache.spark.sql.SparkSession.active.range(factor)
        .toDF("rep"))

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/root/repo/target/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session.build()
    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    // fixed dimensions: shared by every replica
    wr(rd("region"), "region")
    wr(rd("nation"), "nation")

    wr(replicate(rd("customer"), factor).select(
      (col("c_custkey") + col("rep") * DimOff).as("c_custkey"),
      col("c_name"), col("c_nationkey"), col("c_acctbal"),
      col("c_mktsegment")), "customer")

    wr(replicate(rd("supplier"), factor).select(
      (col("s_suppkey") + col("rep") * DimOff).as("s_suppkey"),
      col("s_name"), col("s_nationkey"), col("s_acctbal")), "supplier")

    wr(replicate(rd("part"), factor).select(
      (col("p_partkey") + col("rep") * DimOff).as("p_partkey"),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice")), "part")

    wr(replicate(rd("orders"), factor).select(
      (col("o_orderkey") + col("rep") * KeyOff).as("o_orderkey"),
      (col("o_custkey") + col("rep") * DimOff).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), "orders")

    wr(replicate(rd("lineitem"), factor).select(
      (col("l_orderkey") + col("rep") * KeyOff).as("l_orderkey"),
      (col("l_partkey") + col("rep") * DimOff).as("l_partkey"),
      (col("l_suppkey") + col("rep") * DimOff).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")), "lineitem")

    wr(replicate(rd("events"), factor).select(
      (col("event_id") + col("rep") * KeyOff).as("event_id"),
      col("ts"),
      (col("user_id") + col("rep") * DimOff).as("user_id"),
      col("event_type"), col("value"), col("props")), "events")

    wr(replicate(rd("documents"), factor).select(
      (col("doc_id") + col("rep") * DimOff).as("doc_id"),
      when(col("rep") === 0, col("text"))
        .otherwise(concat(col("text"), lit(" rep"),
          col("rep").cast("string"))).as("text"),
      col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
      "documents")

    wr(replicate(rd("embeddings"), factor).select(
      (col("vec_id") + col("rep") * DimOff).as("vec_id"),
      expr("""CASE WHEN rep = 0 THEN embedding ELSE
        concat(slice(embedding, CAST(rep AS INT) + 1,
          size(embedding) - CAST(rep AS INT)),
          slice(embedding, 1, CAST(rep AS INT))) END""")
        .as("embedding"),
      col("label")), "embeddings")

    println(s"[scaleup] wrote ${factor}x of $src to $out")
    spark.stop()
  }
}
