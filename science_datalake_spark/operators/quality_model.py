"""Model-based document quality scoring — the fastText-classifier stage of
CCNet/RefinedWeb-style pipelines, as a Spark ML pipeline.

The heuristic gate (textops.quality_gate) is rule-based; production web
curation additionally trains a LINEAR classifier over hashed n-gram
features ("does this look like the high-quality seed corpus?") and keeps
documents by predicted probability. That is exactly a Spark ML
``HashingTF → LogisticRegression`` pipeline: featurization and scoring
are JVM-side narrow transforms (the fitted coefficient vector broadcasts
with the task closure — scoring is map-only at any corpus size), and
LBFGS training is the standard distributed aggregation loop (one
treeAggregate of gradient partials per iteration — no per-row Python).

No DuckDB oracle is possible (iterative optimizer), so this module is
test-pinned instead: seed-fixed training on heuristically-labeled
fixtures must separate held-out classes (tests/test_quality_model.py),
the scoring plan is asserted join-free/shuffle-free, and determinism is
checked across repartitionings (LBFGS over float partials is
order-sensitive in the last ulp, so determinism is asserted at the
kept/dropped decision level, not the raw probability bit pattern).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: char-level fallback word splitter mirroring textops.tokens; ML's
#: Tokenizer lowercases, which is what a quality classifier wants
_WORDS_COL = "__qm_words"
_GRAMS_COL = "__qm_grams"
_FEAT_COL = "__qm_features"


def _hadoop_fs_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` under the session's Hadoop conf —
    the same resolution Spark ML's writer uses, so artifact halves always
    land on one filesystem (local, hdfs://, s3a://, ...)."""
    jvm = spark._jvm  # type: ignore[attr-defined]
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[attr-defined]
    return fs, jpath


def _hadoop_write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, jpath = _hadoop_fs_path(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _hadoop_read_text(spark: SparkSession, path: str) -> str:
    fs, jpath = _hadoop_fs_path(spark, path)
    jvm = spark._jvm  # type: ignore[attr-defined]
    stream = fs.open(jpath)
    baos = jvm.java.io.ByteArrayOutputStream()
    # copyBytes(close=True) closes both ends even on a short read
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, True)
    return baos.toString("UTF-8")


def _featurize(df: DataFrame, text_col: str, num_features: int, ngram: int):
    """words + word-bigrams → hashed count vector (the fastText recipe:
    unigrams and bigrams share one hash space)."""
    from pyspark.ml.feature import HashingTF, NGram, Tokenizer

    # Tokenizer NPEs on NULL input; feed a null-coalesced shadow column
    # so scoring a raw corpus (curate()'s model stage) never crashes —
    # a NULL text featurizes as empty (and scores like one)
    shadow = "__qm_text"
    df = df.withColumn(shadow, F.coalesce(F.col(text_col), F.lit("")))
    words = Tokenizer(inputCol=shadow, outputCol=_WORDS_COL).transform(df).drop(shadow)
    if ngram >= 2:
        grams = NGram(n=ngram, inputCol=_WORDS_COL, outputCol=_GRAMS_COL).transform(
            words
        )
        feats_in = grams.withColumn(
            _WORDS_COL, F.concat(F.col(_WORDS_COL), F.col(_GRAMS_COL))
        ).drop(_GRAMS_COL)
    else:
        feats_in = grams = words
    htf = HashingTF(
        inputCol=_WORDS_COL, outputCol=_FEAT_COL, numFeatures=num_features
    )
    return htf.transform(feats_in).drop(_WORDS_COL)


def train_quality_model(
    labeled: DataFrame,
    label_col: str,
    text_col: str = "text",
    num_features: int = 1 << 16,
    ngram: int = 2,
    max_iter: int = 30,
    reg_param: float = 1e-4,
):
    """Fit the hashed-ngram logistic quality classifier.

    ``labeled``: documents with a {0, 1} ``label_col`` (1 = high quality
    — typically a trusted seed corpus vs raw-crawl negatives, or the
    heuristic gate's own keep/drop as weak supervision). Returns a
    :class:`QualityModel` (fitted LogisticRegressionModel + featurization
    config, save/load-able as one unit); pass it to :func:`score_quality`.

    Scale: HashingTF is stateless (no vocabulary broadcast — the hash IS
    the vocabulary, the fastText trick), so the only cluster traffic is
    LBFGS's per-iteration gradient treeAggregate over ``num_features``
    doubles."""
    from pyspark.ml.classification import LogisticRegression

    feats = _featurize(
        labeled.withColumn("__qm_label", F.col(label_col).cast("double")),
        text_col,
        num_features,
        ngram,
    )
    lr = LogisticRegression(
        featuresCol=_FEAT_COL,
        labelCol="__qm_label",
        maxIter=max_iter,
        regParam=reg_param,
        standardization=False,
    )
    model = lr.fit(feats)
    # Drop the unread training summary: it holds the SparkSession, which the
    # scoring closure then carries, and after an Observation (sinks' verified
    # writes) Spark 4.1 cannot serialize a session (see sources/sinks.py).
    model._java_obj.setSummary(feats.sparkSession._jvm.scala.Option.apply(None))
    return QualityModel(model, text_col, num_features, ngram)


@dataclass
class QualityModel:
    """A fitted quality classifier PLUS the featurization parameters it
    was trained with — scoring with mismatched (num_features, ngram)
    would silently scramble the hash space, so the two travel together.

    Persistence round-trips BOTH halves (round-8 ADVICE: a dynamic
    attribute on the Spark ML model is lost across save/load): ``save``
    writes the LogisticRegressionModel via Spark ML's own writer under
    ``<path>/model`` and the featurization config as a JSON sidecar at
    ``<path>/featurization.json``; ``QualityModel.load`` restores both.
    The sidecar goes through the SAME Hadoop filesystem that resolves the
    model path (round-9 ADVICE: a local ``open()`` next to a Hadoop-path
    writer silently splits the artifact when the default FS is hdfs/s3 —
    the model lands remote, the sidecar lands on one executor-less local
    disk, and ``load`` fails)."""

    model: object  # pyspark.ml.classification.LogisticRegressionModel
    text_col: str
    num_features: int
    ngram: int

    def save(self, path: str, overwrite: bool = True) -> None:
        writer = self.model.write()
        if overwrite:
            writer = writer.overwrite()
        writer.save(os.path.join(path, "model"))
        conf = {
            "text_col": self.text_col,
            "num_features": self.num_features,
            "ngram": self.ngram,
        }
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("QualityModel.save requires an active SparkSession")
        _hadoop_write_text(
            spark, os.path.join(path, "featurization.json"), json.dumps(conf)
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "QualityModel":
        from pyspark.ml.classification import LogisticRegressionModel

        model = LogisticRegressionModel.load(os.path.join(path, "model"))
        conf = json.loads(
            _hadoop_read_text(spark, os.path.join(path, "featurization.json"))
        )
        return cls(model, conf["text_col"], conf["num_features"], conf["ngram"])


def score_quality(
    model,
    docs: DataFrame,
    prob_col: str = "quality_prob",
    keep_threshold: float | None = None,
) -> DataFrame:
    """Score documents with a fitted quality model: adds ``prob_col``
    (P(high quality)); with ``keep_threshold``, also ``model_keep``.
    Featurization parameters are taken from the model (a mismatch would
    silently scramble the hash space). Map-only: transform is a narrow
    JVM stage, the coefficient vector rides the broadcast task closure."""
    from pyspark.ml.functions import vector_to_array

    feats = _featurize(docs, model.text_col, model.num_features, model.ngram)
    scored = model.model.transform(feats)
    out = scored.withColumn(
        prob_col, F.round(vector_to_array(F.col("probability"))[1], 6)
    ).drop(_FEAT_COL, "rawPrediction", "probability", "prediction")
    if keep_threshold is not None:
        out = out.withColumn("model_keep", F.col(prob_col) >= keep_threshold)
    return out
