package graft.score

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch scoring (`04c_Task__Propensity_Estimation.py:169-217`, U3).
  *
  * The reference's `fs.score_batch` wraps the model in a pandas UDF and
  * extracts `1 - prediction` = P(class 1) (`04c:181-186`). Here the model
  * is a native MLlib `PipelineModel`: `transform` stays inside the JVM and
  * `vector_to_array(probability)(1)` reads P(class 1) directly — no UDF,
  * no Python boundary, whole plan stays codegen-able.
  */
object Scorer {

  /** Score one commodity's spine; returns (household_key, day,
    * commodity_desc, prediction).
    */
  def score(model: PipelineModel, spine: DataFrame): DataFrame =
    model.transform(spine)
      .select(
        col("household_key"), col("day"), col("commodity_desc"),
        vector_to_array(col("probability")).getItem(1).as("prediction"))

  /** The spine columns `model` reads: the inputs of its `VectorAssembler`
    * stages — the engine's form of the feature spec the reference logs with
    * each model and `fs.score_batch` looks up (`04c:169-186`). A model
    * without an assembler declares no inputs, so it fails here rather than
    * being scored against the full feature width.
    */
  def inputColumns(model: PipelineModel): Seq[String] = {
    val inputs = model.stages.toSeq.collect { case va: VectorAssembler => va.getInputCols.toSeq }
    require(inputs.nonEmpty,
      s"model ${model.uid} has no VectorAssembler stage, so its input columns are unknown")
    inputs.flatten.distinct
  }

  /** Streaming twin of [[score]] (SURVEY.md §2.9 extension): the SAME
    * PipelineModel serves a feature stream — `readStream` source →
    * `transform` → append sink. VectorAssembler and the classifier's
    * transform are row-local (no aggregation state), so the streaming
    * plan needs no watermark and scores ride each micro-batch; stream and
    * batch scores are identical by construction (StreamingSpec asserts
    * it). At scale this is the online-inference path: the model broadcast
    * rides the executors, throughput is source-bound.
    */
  def scoreStream(model: PipelineModel, featureStream: DataFrame): DataFrame =
    score(model, featureStream)
}
