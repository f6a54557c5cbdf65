package graftbench

import graft.functions.{TopKCollect, TopKHarmonic}
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Single-layer probes for the traced run: each operator or kernel call,
  * and each source scan, timed with a `noop` write of its result on the
  * run's inputs. Inputs that are another operator's output are
  * materialized first (untimed), so a probe times its own call only.
  */
object Probes {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Seconds of `mk()` plus its write. */
  private def timed(spark: SparkSession, mk: () => DataFrame): Double = {
    val t0 = System.nanoTime()
    noop(mk())
    val s = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    s
  }

  /** `sources.scan_s`: a full scan of each table the workload reads. */
  def scan(spark: SparkSession, dir: String, tables: Seq[String]): Double = {
    val t = Tables(spark, dir)
    tables.map(name =>
      timed(spark, () => if (name == "events") t.events else t.table(name))).sum
  }

  /** Per-call seconds, keyed by per-layer metric name. */
  def operators(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    val t = Tables(spark, dir)
    val pair = Seq("diseaseId", "targetId")
    val bySource = AssociationScore.byDatasource(t.evidence).localCheckpoint()
    val overall = AssociationScore.overall(bySource, t.weights).localCheckpoint()
    val datedCandidates = t.lineitem
      .join(t.orders.select(col("o_orderkey"), year(col("o_orderdate")).as("orderYear")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .withColumn("studyYear",
        when(col("l_returnflag") === "R", year(col("l_shipdate"))))
      .withColumn("curationYear",
        when(col("l_linenumber") <= 2, year(col("l_shipdate")) - 1))
      .localCheckpoint()
    val pairs = Dedup.minhashLshPairs(t.documents).select("idA", "idB").localCheckpoint()
    val yearWindow = Window.partitionBy((pair :+ "datasourceId").map(col): _*)
      .orderBy("year")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val probes: Seq[(String, () => DataFrame)] = Seq(
      "operators.AssociationScore.byDatasource_s" ->
        (() => AssociationScore.byDatasource(t.evidence)),
      "operators.AssociationScore.overall_s" ->
        (() => AssociationScore.overall(bySource, t.weights)),
      "operators.Novelty.attach_s" -> (() => Novelty.attach(overall, pair)),
      "operators.OntologyPropagate.indirect_s" ->
        (() => OntologyPropagate.indirect(t.evidence, t.ontology)),
      "operators.Dating.bestDate_s" ->
        (() => Dating.bestDate(datedCandidates, Seq("studyYear", "curationYear", "orderYear"))),
      "functions.TopKHarmonic_s" -> (() => t.evidence
        .groupBy((pair :+ "datasourceId" :+ "year").map(col): _*)
        .agg(TopKCollect.topKCollect(col("score")).as("yearScores"))
        .withColumn("score", TopKHarmonic.topKHarmonic(col("yearScores")).over(yearWindow))
        .drop("yearScores")),
      "operators.Dedup.minhashLshPairs_s" -> (() => Dedup.minhashLshPairs(t.documents)),
      "operators.Dedup.clusters_s" -> (() => Dedup.clusters(pairs)),
      "operators.Dedup.prefixJaccardJoin_s" -> (() => Dedup.prefixJaccardJoin(t.documents)),
      "operators.Graph.hits_s" ->
        (() => Graph.hits(pairs.select(col("idA").as("src"), col("idB").as("dst")))),
      "operators.SimilaritySearch.ivfTopK_s" -> (() => SimilaritySearch.ivfTopK(
        t.embeddings, t.embeddings.filter(col("vec_id") % 50 === 0),
        nCentroids = 8, nProbe = 4, lloydIters = 2, replication = 4)))
    val out = probes.map { case (name, mk) => name -> timed(spark, mk) }
    Seq(bySource, overall, datedCandidates, pairs).foreach(_.unpersist())
    out
  }
}
