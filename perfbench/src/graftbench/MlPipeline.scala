package graftbench

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.balance.Smote
import graft.eval.ClassificationReport
import graft.model.Classifiers
import graft.pipeline.StrokePipeline

/** The paper's pipeline as timed steps over one generated stroke CSV:
  * ingest, clean, encode, assemble, SMOTE, the five classifiers, one
  * cross-validated fit and the classification report. Each step calls the
  * module's public function and returns the frame to fingerprint; later
  * steps read what earlier ones left in this object.
  */
final class MlPipeline(spark: SparkSession, csv: String) {
  private var raw, cleaned, assembled, smoteIn, balanced: DataFrame = _
  private var lr: Classifiers.TrainResult = _

  def step(name: String): DataFrame = name match {
    case "ml.read_csv" => raw = StrokePipeline.readCsv(spark, csv); raw
    case "ml.clean" => cleaned = StrokePipeline.clean(raw); cleaned
    case "ml.encode" =>
      // assemble + cache is StrokePipeline.prepare's ending
      assembled = StrokePipeline.assemble(
        StrokePipeline.encode(cleaned).df).cache()
      assembled
    case "ml.smote" =>
      smoteIn = assembled
        .select(monotonically_increasing_id().as("id"),
          vector_to_array(col("features")).as("feat"), col("stroke"))
      balanced = Smote.balance(spark, smoteIn, "id", "feat", "stroke", lit(1))
      balanced
    case "ml.cv_nb" => Classifiers.cvTrainEval("nb", assembled).predictions
    case "ml.report" =>
      ClassificationReport.report(spark, lr.predictions, "stroke")
    case n if n.startsWith("ml.fit_") =>
      val res = Classifiers.trainEval(n.stripPrefix("ml.fit_"), assembled)
      if (n == "ml.fit_lr") lr = res
      res.predictions
  }

  /** Invariants of the generated input, checked after the timed pass:
    * (name, ok, detail). A step that never ran fails its checks.
    */
  def checks(rawRows: Option[Long]): Seq[(String, Boolean, String)] = {
    def chk(name: String)(f: => (Boolean, String)) =
      try { val (ok, d) = f; (name, ok, d) }
      catch { case e: Throwable => (name, false, Harness.describe(e)) }
    Seq(
      chk("rows_5110") {
        (rawRows.contains(5110L), s"read ${rawRows.getOrElse(-1L)} rows")
      },
      chk("bmi_no_null") {
        val nulls = cleaned.filter(col("bmi").isNull).count()
        val dt = cleaned.schema("bmi").dataType.simpleString
        (nulls == 0 && dt == "double", s"$nulls null, type $dt")
      },
      chk("feature_width_21") {
        val w = assembled.select("features").head().getAs[Vector](0).size
        (w == 21, s"width $w")
      },
      chk("smote_class_counts") {
        def counts(df: DataFrame) = df.groupBy("stroke").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val (before, after) = (counts(smoteIn), counts(balanced))
        // percentOver=200 triples the minority; percentUnder=100 keeps
        // the whole majority
        (after.get(1).contains(3 * before(1)) &&
          after.get(0) == before.get(0), s"before $before after $after")
      },
      chk("lr_auc_floor") {
        (lr.auc >= MlPipeline.AucFloor,
          f"auc ${lr.auc}%.4f, floor ${MlPipeline.AucFloor}")
      })
  }
}

object MlPipeline {
  /** The planted signal in the generated CSV keeps lr's AUC above this. */
  val AucFloor = 0.75
}
