package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Supervised document classification over hashed unigram features —
  * multinomial Naive Bayes (the fastText-without-embeddings baseline every
  * large-corpus pipeline runs for language/domain/quality routing, and the
  * exactly-SQL-expressible member of that family: counts, Laplace-smoothed
  * log-likelihoods, an argmax). Complements the UNSUPERVISED scorers the
  * engine already has ([[Curation.dsirWeights]] scores resemblance to one
  * target population; this learns K labeled classes and routes).
  *
  * Features are the first `hexChars` md5 hex chars of each whitespace
  * token (16^hexChars buckets — the [[Curation.dsirLm]] hashing trick,
  * engine-portable as a plain string key). The model is a persistable
  * table, the learn-once/apply-many contract: train on the labeled corpus
  * once ([[nbTrain]]), score every later batch ([[nbClassify]]) or stream
  * (`DocStreams.nbClassifyArrivals`) against the stored table without
  * rescanning the training data.
  */
object Classify {

  /** Train the NB model: one row per (label, feature) with the token
    * count, each row also carrying the label's document count (redundant
    * by construction so the model is ONE self-contained artifact — no
    * sidecar prior table to version-skew against). Rows with NULL
    * label/text are excluded (unlabeled data cannot supervise), and so
    * are docs with zero nonempty tokens: they would inflate the prior of
    * a label they contribute no evidence for, and — the sharper reason —
    * a label whose EVERY doc is token-free would otherwise count toward
    * the prior denominator while carrying no feature row, leaving the
    * model's total-docs view ambiguous across consumers. With the
    * filter, "label in the model" and "label contributes docs" are the
    * same predicate everywhere.
    *
    * Scale shape: one partial-aggregated (label, feature) shuffle over
    * the exploded tokens — bounded by |labels| × 16^hexChars output rows
    * regardless of corpus size — plus a |labels|-row doc-count aggregate
    * broadcast onto it; the token-presence filter is a map-side HOF. */
  def nbTrain(
      df: DataFrame, labelCol: String, textCol: String,
      hexChars: Int = 3): DataFrame = {
    require(hexChars >= 1 && hexChars <= 8,
      s"hexChars must be in [1, 8], got $hexChars")
    val labeled = df.filter(col(textCol).isNotNull && col(labelCol).isNotNull)
      .filter(size(filter(split(col(textCol), " "), w => w =!= "")) > 0)
    val nd = labeled.groupBy(col(labelCol).cast("string").as("label"))
      .agg(count(lit(1)).as("n_docs"))
    labeled
      .select(col(labelCol).cast("string").as("label"),
        explode(split(col(textCol), " ")).as("__w"))
      .filter(col("__w") =!= "")
      .select(col("label"),
        substring(md5(col("__w")), 1, hexChars).as("feature"))
      .groupBy("label", "feature").agg(count(lit(1)).as("n_feat"))
      .join(broadcast(nd), Seq("label"))
  }

  /** Classify a batch against a STORED [[nbTrain]] model: per document
    * the token count, the argmax label, and its round-4 posterior
    * log-score — `log(n_docs_c / N_docs) + Σ_tokens log((count(c, f) + 1)
    * / (N_tokens_c + 16^hexChars))`, Laplace-smoothed so OOV features
    * (never seen in training under ANY label) contribute the zero-count
    * ratio instead of dropping the document. Ties after round-4 break on
    * the lexicographically smallest label — deterministic cross-engine.
    * Documents with no nonempty token emit no row (nothing to condition
    * on).
    *
    * Scale shape: class totals derive from the bounded model (≤ |labels|
    * × 16^hexChars rows) as |labels|-row broadcasts; the scoring pass
    * fans the batch's exploded tokens by |labels| (small, the price of
    * scoring every class), left-joins the broadcast model, and
    * partial-aggregates per (doc, label); the argmax is one
    * WindowGroupLimit-shaped row_number per doc. The training corpus is
    * never rescanned. */
  def nbClassify(
      batch: DataFrame, idCol: String, textCol: String, model: DataFrame,
      hexChars: Int = 3): DataFrame = {
    require(hexChars >= 1 && hexChars <= 8,
      s"hexChars must be in [1, 8], got $hexChars")
    require(Seq("label", "feature", "n_feat", "n_docs")
        .forall(model.columns.contains),
      s"model must carry (label, feature, n_feat, n_docs) — the nbTrain " +
        s"schema; got (${model.columns.mkString(", ")})")
    val buckets = math.pow(16, hexChars).toLong
    val classTot = model.groupBy("label").agg(
      sum(col("n_feat")).as("__nl"), first(col("n_docs")).as("__nd"))
    val totDocs = classTot.agg(sum(col("__nd")).as("__ndocs"))
    val tok = batch.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("__w"))
      .filter(col("__w") =!= "")
      .select(col(idCol), substring(md5(col("__w")), 1, hexChars).as("__f"))
    val scored = tok
      .crossJoin(broadcast(classTot.select("label", "__nl")))
      .join(broadcast(model.select(col("label"), col("feature").as("__f"),
        col("n_feat"))), Seq("label", "__f"), "left")
      .groupBy(col(idCol), col("label"))
      .agg(count(lit(1)).cast("long").as("n_tok"),
        sum(log((coalesce(col("n_feat"), lit(0L)) + 1).cast("double") /
          (col("__nl") + buckets))).as("__ll"))
      .join(broadcast(classTot), Seq("label"))
      .crossJoin(broadcast(totDocs))
      .withColumn("score",
        round(log(col("__nd").cast("double") / col("__ndocs")) + col("__ll"),
          4) + lit(0.0))
    val rank = row_number().over(Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("label").asc))
    scored.withColumn("__rn", rank).filter(col("__rn") === 1)
      .select(col(idCol), col("n_tok"), col("label").as("pred_label"),
        col("score"))
  }

  /** Publish a trained NB model as a versioned on-disk artifact:
    * `model.parquet` ([[nbTrain]]'s table) plus `meta.parquet` carrying
    * the `hexChars` the features were hashed with, staged together and
    * swapped in with ONE atomic root rename (the
    * [[Similarity.writeIvfPqIndex]] discipline). hexChars rides IN the
    * artifact because a scorer using a different width silently hashes
    * every token to a feature the model never saw — each document then
    * gets the all-OOV score under every label and the argmax degrades
    * to the prior, with no error anywhere; the meta makes the pairing
    * indivisible and [[readNbModel]] hands both back. The artifact the
    * streaming `DocStreams.nbClassifyArrivals` points at across
    * restarts. */
  def writeNbModel(
      df: DataFrame, labelCol: String, textCol: String, path: String,
      hexChars: Int = 3): Unit = {
    val model = nbTrain(df, labelCol, textCol, hexChars)
    val spark = df.sparkSession
    val meta = Similarity.localFrame(spark,
      Array(org.apache.spark.sql.Row(hexChars)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("hex_chars",
          org.apache.spark.sql.types.IntegerType))))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.engine.Sinks.publishRoot(fs, path) { tmp =>
      model.write.mode("overwrite").parquet(s"$tmp/model.parquet")
      meta.write.mode("overwrite").parquet(s"$tmp/meta.parquet")
    }
  }

  /** Load a stored [[writeNbModel]] artifact (recovering any
    * half-finished root swap first) as (model, hexChars) — always a
    * consistent pair; feed both to [[nbClassify]] /
    * `DocStreams.nbClassifyArrivals`. */
  def readNbModel(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, Int) = {
    val root = new org.apache.hadoop.fs.Path(path)
    graft.engine.Sinks.recoverSwap(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
    (spark.read.parquet(s"$path/model.parquet"),
      spark.read.parquet(s"$path/meta.parquet")
        .select("hex_chars").head().getInt(0))
  }
}
