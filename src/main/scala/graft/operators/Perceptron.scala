package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed batch perceptron training over hashed token features —
  * the model-TRAINING half of the quality-filter arc
  * ([[HashedClassifier]] is the inference half; its `(bucket,
  * weight)` frame is exactly what this learns). Batch (not SGD)
  * perceptron: each epoch scores every document against the current
  * weights, collects ALL misclassified documents, and applies the
  * summed update `w += Σ y·x` — deterministic and embarrassingly
  * parallel, unlike sequential SGD whose result depends on row order
  * (Rosenblatt 1958; the batch variant is the textbook
  * order-independent form).
  *
  * Engine-exact: features are integer counts, labels ±1, weights
  * integer sums of integer updates — every number in the loop is a
  * BIGINT; y·margin ≤ 0 is an integer comparison. Zero-initialized
  * weights make epoch 1 update on every document (0 margin counts as
  * misclassified — the standard convention).
  *
  * Scale shape: the corpus featurizes ONCE into `(doc, bucket, cnt)`
  * (map-side combined, persisted across epochs); per epoch, scoring
  * is a broadcast join against the ≤ nBuckets-row weight table and a
  * groupBy on the high-cardinality doc id; the update aggregates to
  * ≤ nBuckets rows. The weight vector is collected per epoch (the
  * hashing trick BOUNDS the model: nBuckets rows no matter the
  * corpus — same justification as the CC convergence collect), so
  * the epoch plans stay flat and nothing corpus-sized reaches the
  * driver. */
object Perceptron {

  /** Hashed bag-of-buckets features: `(idCol, bucket, cnt)`. */
  def featurize(docs: DataFrame, idCol: String, textCol: String,
                nBuckets: Int): DataFrame =
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .select(col(idCol), HashedClassifier.bucketOf(col("tok"), nBuckets))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Train `epochs` batch-perceptron epochs from zero weights.
    * `label` must evaluate to +1 or -1 per document. Returns the
    * learned `(bucket, weight)` frame (nonzero weights only — ready
    * for [[HashedClassifier.score]]). */
  def learn(docs: DataFrame, idCol: String, textCol: String, label: Column,
            nBuckets: Int, epochs: Int): DataFrame =
    learnOrEval(docs, idCol, textCol, label, nBuckets, epochs,
      wantEval = false)._1

  /** Featurize ONCE, train, and evaluate the trained weights over the
    * same corpus — the q84 arc without the second featurize pass.
    * Returns (weights, evaluation) where evaluation has
    * [[evaluate]]'s exact schema and rows. */
  private[graft] def learnAndEvaluate(docs: DataFrame, idCol: String,
      textCol: String, label: Column, nBuckets: Int,
      epochs: Int): (DataFrame, DataFrame) = {
    val (w, ev) = learnOrEval(docs, idCol, textCol, label, nBuckets, epochs,
      wantEval = true)
    (w, ev.get)
  }

  private def learnOrEval(docs: DataFrame, idCol: String, textCol: String,
      label: Column, nBuckets: Int, epochs: Int,
      wantEval: Boolean): (DataFrame, Option[DataFrame]) = {
    val spark = docs.sparkSession
    val id = col(idCol)
    val feats = featurize(docs, idCol, textCol, nBuckets).persist()
    // persisted too: referenced once per epoch — without this every
    // epoch re-scans the corpus just to re-derive two columns
    val labels = docs.select(id, label.cast("long").as("y")).persist()
    try {
      // driver-finish (r16): when the featurized corpus fits
      // DriverFinish's budget, the whole epoch loop runs as integer
      // array arithmetic on the driver — each Spark epoch at that size
      // is a broadcast join, two shuffles and a collect of pure
      // scheduling overhead. The hashing trick already bounds the
      // MODEL; the budget bounds the epoch INPUT. The label collect is
      // LIMIT-bounded so an empty-text-heavy corpus (many labels, few
      // features) cannot blow the driver.
      val idType = docs.schema(docs.schema.fieldIndex(idCol)).dataType
      // the driver eval path materializes LONG ids — a narrower
      // integral id would come back widened, so only the weights-only
      // path (whose output never carries ids) accepts int/short/byte
      val idOk = DriverFinish.integral(idType) &&
        (!wantEval || idType == org.apache.spark.sql.types.LongType)
      // 24 B per feature row: long doc id, int bucket, long count and
      // the int dense doc index; 16 B per label row: long id, long y
      if (idOk && DriverFinish.fitsCount("perceptron", feats, 24L)) {
        DriverFinish.collectBounded("perceptron_labels",
            labels.select(id.cast("long"), col("y")), 16L) match {
          case Some(labRows) =>
            return learnDriver(spark, feats, idCol, labRows, nBuckets,
              epochs, wantEval)
          case None =>
        }
      }
      var w = Map.empty[Int, Long]
      var e = 0
      while (e < epochs) {
        e += 1
        val wDf = weightsDf(spark, w)
        val upd = feats
          .join(broadcast(wDf), Seq("bucket"), "left")
          .groupBy(id)
          .agg(sum(col("cnt") * coalesce(col("weight"), lit(0L))).as("margin"))
          .join(labels, idCol)
          .filter(col("y") * col("margin") <= 0)
          .select(id, col("y"))
          .join(feats, idCol)
          .groupBy(col("bucket"))
          .agg(sum(col("y") * col("cnt")).as("dw"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        w = (w.keySet ++ upd.keySet).map { b =>
          b -> (w.getOrElse(b, 0L) + upd.getOrElse(b, 0L))
        }.toMap
      }
      val wFrame = weightsDf(spark, w.filter(_._2 != 0L))
      (wFrame,
        if (wantEval) Some(evaluate(docs, idCol, textCol, label, wFrame, nBuckets))
        else None)
    } finally {
      feats.unpersist(false)
      labels.unpersist(false)
    }
  }

  /** The epoch loop as primitive-array integer arithmetic — exactly
    * the distributed loop's semantics: margins sum over docs PRESENT
    * IN FEATS (the groupBy), the misclassified set is feats-docs ∩
    * labels (the inner join; y·margin ≤ 0 with zero-init weights
    * updates every featured doc in epoch 1), and updates sum y·cnt
    * per bucket. All-BIGINT with `Math.*Exact` so an overflow fails
    * loudly the way the ANSI-mode distributed sum does. Order-free
    * integer sums make the result bit-identical to the distributed
    * path (pinned by TrainingOpsSpec's driver≡distributed
    * cross-check). */
  private def learnDriver(spark: org.apache.spark.sql.SparkSession,
      feats: DataFrame, idCol: String, labRows: Array[org.apache.spark.sql.Row],
      nBuckets: Int, epochs: Int,
      wantEval: Boolean): (DataFrame, Option[DataFrame]) = {
    val fRows = feats.select(col(idCol).cast("long"),
      col("bucket").cast("int"), col("cnt").cast("long")).collect()
    val m = fRows.length
    val fid = new Array[Long](m)
    val fb = new Array[Int](m)
    val fc = new Array[Long](m)
    var i = 0
    while (i < m) {
      val r = fRows(i)
      fid(i) = r.getLong(0); fb(i) = r.getInt(1); fc(i) = r.getLong(2)
      require(fb(i) >= 0 && fb(i) < nBuckets,
        s"perceptron driver-finish: bucket ${fb(i)} outside [0, $nBuckets)")
      i += 1
    }
    val ids = DriverFinish.denseIndex(fid, Array.emptyLongArray)
    val nDocs = ids.length
    val di = new Array[Int](m)
    i = 0
    while (i < m) { di(i) = DriverFinish.idx(ids, fid(i)); i += 1 }
    // labels: y per dense doc id; docs absent from feats are ignored
    // (the distributed margin groupBy never sees them), feats docs
    // absent from labels never misclassify (inner join)
    val y = new Array[Long](nDocs)
    val hasY = new Array[Boolean](nDocs)
    labRows.foreach { r =>
      if (!r.isNullAt(0)) {
        val d = DriverFinish.idx(ids, r.getLong(0))
        if (d >= 0) { y(d) = r.getLong(1); hasY(d) = true }
      }
    }
    val w = new Array[Long](nBuckets)
    val margin = new Array[Long](nDocs)
    val mis = new Array[Boolean](nDocs)
    var e = 0
    while (e < epochs) {
      e += 1
      java.util.Arrays.fill(margin, 0L)
      java.util.Arrays.fill(mis, false)
      i = 0
      while (i < m) {
        margin(di(i)) = Math.addExact(margin(di(i)),
          Math.multiplyExact(fc(i), w(fb(i))))
        i += 1
      }
      var d = 0
      while (d < nDocs) {
        if (hasY(d) && Math.multiplyExact(y(d), margin(d)) <= 0L) mis(d) = true
        d += 1
      }
      i = 0
      while (i < m) {
        if (mis(di(i)))
          w(fb(i)) = Math.addExact(w(fb(i)), Math.multiplyExact(y(di(i)), fc(i)))
        i += 1
      }
    }
    val wMap = (0 until nBuckets).collect {
      case b if w(b) != 0L => b -> w(b)
    }.toMap
    val evalDf = if (!wantEval) None else {
      // [[evaluate]]'s rows from the same arrays: one more margin pass
      // with the final weights over feats-docs ∩ labels
      java.util.Arrays.fill(margin, 0L)
      i = 0
      while (i < m) {
        margin(di(i)) = Math.addExact(margin(di(i)),
          Math.multiplyExact(fc(i), w(fb(i))))
        i += 1
      }
      val rows = (0 until nDocs).collect {
        case d if hasY(d) =>
          org.apache.spark.sql.Row(ids(d), y(d), margin(d),
            if (y(d) * margin(d) > 0L) 1L else 0L)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol,
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("y",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("margin",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("correct",
          org.apache.spark.sql.types.LongType, nullable = false)))
      Some(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema))
    }
    (weightsDf(spark, wMap), evalDf)
  }

  /** Per-document margins + verdicts of a weight frame over a corpus:
    * `(idCol, y, margin, correct)` — the evaluation join
    * ([[learn]]'s scoring step, exposed for accuracy audits). */
  def evaluate(docs: DataFrame, idCol: String, textCol: String, label: Column,
               weights: DataFrame, nBuckets: Int): DataFrame = {
    val id = col(idCol)
    featurize(docs, idCol, textCol, nBuckets)
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy(id)
      .agg(sum(col("cnt") * coalesce(col("weight"), lit(0L))).as("margin"))
      .join(docs.select(id, label.cast("long").as("y")), idCol)
      .withColumn("correct", when(col("y") * col("margin") > 0, 1L).otherwise(0L))
      .select(id, col("y"), col("margin"), col("correct"))
  }

  private def weightsDf(spark: org.apache.spark.sql.SparkSession,
                        w: Map[Int, Long]): DataFrame = {
    import spark.implicits._
    val rows = w.toSeq.sortBy(_._1)
    if (rows.isEmpty) Seq.empty[(Int, Long)].toDF("bucket", "weight")
    else rows.toDF("bucket", "weight")
  }
}
