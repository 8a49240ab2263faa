package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query registry and its oracle map (SURVEY.md §7).
  *
  * Every implemented operator from SURVEY.md §2 (plus the training-data
  * extensions) is registered here as a named query with, where
  * SQL-expressible, a DuckDB oracle equivalent; [[registry]] lists the
  * per-domain modules that contribute them.
  */
object SparkEntry {

  // A flat Seq(...).flatten, NOT a `++` chain: ~100 left-nested `++`
  // applications overflow the scalac typer stack (StackOverflowError at
  // compile time under the default -Xss); one shallow varargs apply stays
  // O(1) deep no matter how many modules register.
  val registry: Seq[Q] = Seq(
    operators.CoreQueries.all,
    operators.AggQueries.all,
    functions.ScalarQueries.all,
    streaming.EventQueries.all,
    streaming.Seasonal.all,
    streaming.MarkovTransitions.all,
    text.ZipfTail.all,
    text.PackingCurve.all,
    streaming.Burstiness.all,
    text.TextQueries.all,
    text.Bpe.all,
    text.BloomPrune.all,
    text.HybridSearch.all,
    text.WeightedSample.all,
    similarity.VectorQueries.all,
    similarity.Mmr.all,
    multimodal.MultimodalQueries.all,
    operators.Search.all,
    operators.JoinEstimate.all,
    operators.DataLayout.all,
    operators.Skyline.all,
    operators.GoldenRecord.all,
    operators.SkewAudit.all,
    operators.Constraints.all,
    operators.AsofJoin.all,
    operators.HllSetOps.all,
    operators.Survival.all,
    operators.NameSimilarity.all,
    operators.BenfordAudit.all,
    operators.ColumnEntropy.all,
    operators.RobustOutliers.all,
    operators.ExpSmoothing.all,
    operators.StatsAudits.all,
    operators.CubeAgg.all,
    security.SecurityQueries.all,
    graph.GraphQueries.all,
    graph.Triangles.all,
    graph.AssocRules.all,
    graph.Assortativity.all,
    operators.Gini.all,
    operators.ControlChart.all,
    operators.Spearman.all,
    operators.AbcRfm.all,
    operators.Autocorr.all,
    text.Heaps.all,
    operators.FdMining.all,
    multimodal.ImageDedup.all,
    text.Homoglyph.all,
    graph.Hits.all,
    operators.LeadTime.all,
    operators.Hierarchy.all,
    graph.Bfs.all,
    text.QualityBuckets.all,
    similarity.Pq.all,
    operators.RollingDistinct.all,
    operators.Cusum.all,
    streaming.Attribution.all,
    operators.WeightedMedian.all,
    similarity.Ivfpq.all,
    similarity.GridDbscan.all,
    similarity.KnnAudit.all,
    security.DpSensitivity.all,
    similarity.Medoids.all,
    operators.StatTests.all,
    text.NaiveBayes.all,
    similarity.DimQa.all,
    operators.KendallTau.all,
    operators.Hbos.all,
    graph.KCore.all,
    operators.LeadLag.all,
    operators.TheilSen.all,
    operators.RobustMean.all,
    streaming.MarkovAttribution.all,
    text.SketchAudit.all,
    text.FightinWords.all,
    operators.Conformal.all,
    operators.EbShrinkage.all,
    graph.LinkPrediction.all,
    operators.MantelHaenszel.all,
    streaming.SequenceMining.all,
    operators.Jonckheere.all,
    operators.AbcXyz.all,
    operators.Elasticity.all,
    operators.LogRank.all,
    operators.HodgesLehmann.all,
    text.CaptureRecapture.all,
    text.GTest.all,
    operators.GkLambda.all,
    operators.QqShift.all,
    operators.DesignEffect.all,
    operators.KFoldOls.all,
    graph.Ppr.all,
    streaming.LittlesLaw.all,
    operators.HoltTrend.all,
    text.Kappa.all,
    operators.Isotonic.all,
    operators.DurbinWatson.all,
    operators.Backtest.all,
    operators.Friedman.all,
    operators.RunsTest.all,
    operators.CooksDistance.all,
    graph.TradeFlows.all,
    operators.BradleyTerry.all,
    operators.ZoneMap.all,
    text.KneserNey.all,
    operators.MannKendall.all,
    operators.BinarySeg.all,
    operators.SkewAdvisor.all,
    operators.CompactionPlan.all,
    streaming.EntropyRate.all,
    operators.McNemar.all,
    operators.PriceIndex.all,
    graph.Modularity.all,
    operators.GainsLift.all,
    operators.HistogramEstimate.all,
    operators.SimpsonParadox.all,
    operators.HoltWinters.all,
    operators.Croston.all,
    text.LexicalStats.all,
    operators.EncodingAdvisor.all,
    similarity.CentroidShift.all,
    similarity.VectorIndexQueries.all,
    etl.LineageQueries.all,
    operators.MlEval.all,
    operators.Cuped.all,
    operators.WelchT.all,
    operators.KruskalWallis.all,
    operators.Normality.all,
    text.FleissKappa.all,
    operators.CochranArmitage.all,
    operators.Newsvendor.all,
    operators.Decompose.all,
    operators.LjungBox.all,
    operators.KmvSketch.all,
    operators.ThetaForecast.all,
    operators.Rmst.all,
    operators.DemandClass.all,
    operators.Clv.all,
    operators.AndersonDarling.all,
    operators.BreslowDay.all,
    operators.Greenwood.all,
    operators.StlStrength.all,
  ).flatten

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * q01: window-based 30-day readmission rate (SURVEY.md §7.1 M1).
    */
  def entry(spark: SparkSession): DataFrame =
    operators.CoreQueries.q01.build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted only for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Reference (pre-bounding) formulations for queries whose `oracle`
    * was rewritten for large-SF tractability — the equivalence-proof
    * input for tools/check_oracle_equiv.py (see [[Q.oracleReference]]).
    */
  def oracleSqlReference: Map[String, String] =
    registry.flatMap(q => q.oracleReference.map(q.name -> _)).toMap
}
