package graft

import org.apache.spark.ml.{Pipeline, PipelineStage}
import org.apache.spark.ml.feature.{OneHotEncoder, StringIndexer, StringIndexerModel}
import org.apache.spark.sql.DataFrame
import graft.pipeline.StrokePipeline
import graft.util.Artifacts

/** `StrokePipeline.encode` fits one multi-column StringIndexer and one
  * multi-column OneHotEncoder. Pinned here against the per-column form
  * (one indexer and one encoder per string column, the reference's
  * shape): the same label mappings, the same assembled feature vectors
  * and the same ML attribute metadata, on the generated [[StrokeCsv]].
  */
class StrokeEncodeSpec extends SparkSpec {

  private lazy val cleaned: DataFrame = {
    val csv = StrokeCsv.write(Artifacts.scratchDir("graft_encode"), 2000)
    StrokePipeline.clean(StrokePipeline.readCsv(spark, csv)).localCheckpoint(true)
  }

  /** The per-column form: one StringIndexer(keep) and one OneHotEncoder
    * per string column, each swapped in place of its column. */
  private def perColumn(df: DataFrame): StrokePipeline.Encoded = {
    val cols = StrokePipeline.stringCols(df)
    val stages: Seq[PipelineStage] =
      cols.map(c => new StringIndexer().setInputCol(c).setOutputCol(c + "_index")
        .setHandleInvalid("keep")) ++
      cols.map(c => new OneHotEncoder().setInputCol(c + "_index")
        .setOutputCol(c + "_encoded"))
    val model = new Pipeline().setStages(stages.toArray).fit(df)
    val mappings = model.stages.collect { case m: StringIndexerModel =>
      m.getInputCol -> m.labelsArray.head.zipWithIndex
        .map { case (l, i) => l -> i.toDouble }.toMap
    }.toMap
    val swapped = cols.foldLeft(model.transform(df)) { (acc, c) =>
      acc.drop(c, c + "_index").withColumnRenamed(c + "_encoded", c)
    }
    StrokePipeline.Encoded(swapped, mappings)
  }

  test("encode equals the per-column form: mappings, features, metadata") {
    val mine = StrokePipeline.encode(cleaned)
    val ref = perColumn(cleaned)
    assert(mine.mappings.keySet === StrokePipeline.stringCols(cleaned).toSet)
    assert(mine.mappings === ref.mappings)
    assert(mine.df.columns.toSeq === ref.df.columns.toSeq)
    assert(mine.df.schema === ref.df.schema, "column types or ML metadata differ")
    val (a, b) = (StrokePipeline.assemble(mine.df), StrokePipeline.assemble(ref.df))
    assert(a.schema("features").metadata === b.schema("features").metadata)
    assert(a.schema("features").metadata.json.contains("ml_attr"))
    val (fa, fb) = (a.select("features", "stroke").collect().toSeq,
      b.select("features", "stroke").collect().toSeq)
    assert(fa.size === 2000)
    assert(fa === fb)
    assert(fa.head.getAs[org.apache.spark.ml.linalg.Vector](0).size === 21)
  }
}
