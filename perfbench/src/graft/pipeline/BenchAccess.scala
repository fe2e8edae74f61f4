package graft.pipeline

import graft.model.Doc
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The two package-private stage functions `Pipeline.run` calls, opened to
  * the benchmark's traced run so it can time each stage from outside.
  */
object BenchAccess {
  def precollapse(docs: Dataset[Doc])(
      implicit spark: SparkSession): (Dataset[Doc], Option[DataFrame]) =
    Pipeline.precollapse(docs)

  def expandClusters(docsDF: DataFrame, expansion: Option[DataFrame],
                     assignments: DataFrame): DataFrame =
    Pipeline.expandClusters(docsDF, expansion, assignments)

  /** Band-pair rows before the candidacy vote, over the whole band relation. */
  def preVotePairs(sigs: Dataset[graft.model.DocSig], cfg: GraftConfig): DataFrame = {
    val b = Blocking.bandRowsDF(sigs, cfg)
    Blocking.prefilteredPairs(b, b, Nil, _ < _, cfg)
  }
}
