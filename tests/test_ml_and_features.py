"""ML layer tests mirroring the reference's strategy
(tests/test_pipeline.py: small frames, metric-range asserts, save/load
round-trip) plus the FeatureEngineer behaviors."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from big_data_ml_pipeline_spark.features.engineering import FeatureEngineer
from big_data_ml_pipeline_spark.features.pipeline import (
    build_feature_pipeline,
    discover_roles,
)
from big_data_ml_pipeline_spark.ml.evaluate import (
    davies_bouldin,
    evaluate_classification,
    evaluate_clustering,
    evaluate_regression,
)
from big_data_ml_pipeline_spark.ml.models import MODEL_REGISTRY, build_estimator
from big_data_ml_pipeline_spark.ml.train import (
    load_model,
    save_model,
    train_model,
)


@pytest.fixture(scope="module")
def labeled_df(spark):
    """Linearly separable 2-feature data, mirroring the reference's
    8-row fixture shape (tests/test_pipeline.py:40-49) but big enough
    for a stable split."""
    rows = []
    for i in range(60):
        x = float(i % 10)
        y = float((i * 7) % 10)
        label = 1.0 if x + y > 9 else 0.0
        rows.append((x, y, label))
    return spark.createDataFrame(rows, ["f1", "f2", "label"])


def _with_features(df):
    from pyspark.ml.feature import VectorAssembler

    return VectorAssembler(inputCols=["f1", "f2"], outputCol="features").transform(df)


def test_discover_roles(spark):
    df = spark.createDataFrame([("a", 1, 2.0, True)], ["s", "i", "d", "b"])
    cat, num = discover_roles(df)
    assert cat == ["s"] and num == ["i", "d"]  # bool excluded, like the reference


def test_feature_pipeline_shapes(spark):
    df = spark.createDataFrame(
        [("A", 1.0), ("B", 2.0), ("A", 3.0)], ["cat", "x"]
    )
    model = build_feature_pipeline(df, categorical_cols=["cat"], numeric_cols=["x"])
    out = model.transform(df)
    assert "features" in out.columns and "cat_indexed" in out.columns
    vec = out.first()["features"]
    assert len(vec) == 2  # numeric + indexed categorical


def test_train_and_evaluate_classifier(spark, labeled_df):
    model, preds = train_model(
        _with_features(labeled_df), "logistic_regression", "classification"
    )
    assert preds.count() > 0 and "prediction" in preds.columns
    metrics = evaluate_classification(preds)
    for k in ("areaUnderROC", "areaUnderPR", "accuracy", "f1",
              "weightedPrecision", "weightedRecall"):
        assert k in metrics
        assert 0.0 <= metrics[k] <= 1.0  # reference asserts this range
    assert metrics["accuracy"] > 0.6  # separable data must beat chance


def test_train_and_evaluate_regressor(spark, labeled_df):
    df = _with_features(labeled_df.withColumn("label", F.col("f1") * 2 + 1))
    model, preds = train_model(df, "linear_regression", "regression")
    metrics = evaluate_regression(preds)
    assert metrics["rmse"] < 0.1 and metrics["r2"] > 0.99  # exact linear fit


def test_model_save_load_roundtrip(spark, labeled_df, tmp_path):
    df = _with_features(labeled_df)
    model, _ = train_model(df, "logistic_regression", "classification")
    path = str(tmp_path / "model")
    save_model(model, path)
    reloaded = load_model(path)
    a = model.transform(df).select("prediction").collect()
    b = reloaded.transform(df).select("prediction").collect()
    assert a == b


def test_clustering_and_davies_bouldin(spark):
    # two tight, well-separated blobs → DB index must be < 1
    rows = [(float(i % 3) * 0.01 + c * 100.0, c * 100.0)
            for c in (0, 1) for i in range(15)]
    df = _with_features(
        spark.createDataFrame(rows, ["f1", "f2"]).withColumn("label", F.lit(0.0))
    )
    est = build_estimator("kmeans", "clustering", k=2)
    preds = est.fit(df).transform(df)
    sizes = sorted(r["n"] for r in preds.groupBy("prediction").count()
                   .withColumnRenamed("count", "n").collect())
    assert sizes == [15, 15]
    metrics = evaluate_clustering(preds)
    assert metrics["silhouette"] > 0.9
    # both dispersion semantics reported under distinct keys (ADVICE
    # r2): davies_bouldin = sklearn q=1, davies_bouldin_q2 = RMS q=2
    assert 0.0 < metrics["davies_bouldin"] < 0.1
    assert 0.0 < metrics["davies_bouldin_q2"] < 0.1
    assert metrics["davies_bouldin"] <= metrics["davies_bouldin_q2"]


def test_davies_bouldin_single_cluster_zero(spark):
    df = _with_features(
        spark.createDataFrame([(1.0, 2.0), (1.5, 2.5)], ["f1", "f2"])
    ).withColumn("prediction", F.lit(0))
    assert davies_bouldin(df) == 0.0


def _db_reference(points, labels, q):
    """Driver-side numpy twin of the Davies-Bouldin definition."""
    import numpy as np

    X, y = np.asarray(points, dtype=float), np.asarray(labels)
    ks = sorted(set(y))
    cents = {c: X[y == c].mean(axis=0) for c in ks}
    if q == 2:
        s = {c: float(np.sqrt((((X[y == c] - cents[c]) ** 2).sum(axis=1)).mean())) for c in ks}
    else:
        s = {c: float(np.sqrt(((X[y == c] - cents[c]) ** 2).sum(axis=1)).mean()) for c in ks}
    total = 0.0
    for i in ks:
        worst = 0.0
        for j in ks:
            if i != j:
                d = float(np.linalg.norm(cents[i] - cents[j]))
                if d > 0:
                    worst = max(worst, (s[i] + s[j]) / d)
        total += worst
    return total / len(ks)


@pytest.mark.parametrize("q", [1, 2])
def test_davies_bouldin_matches_numpy_twin(spark, q):
    points = [(0.0, 0.1), (0.2, -0.1), (-0.1, 0.3), (5.0, 5.2), (5.3, 4.9), (4.8, 5.1), (5.1, 5.0)]
    labels = [0, 0, 0, 1, 1, 1, 1]
    rows = [(p[0], p[1], l) for p, l in zip(points, labels)]
    df = _with_features(spark.createDataFrame(rows, ["f1", "f2", "prediction"]))
    got = davies_bouldin(df, q=q)
    want = _db_reference(points, labels, q)
    assert got == pytest.approx(want, rel=1e-9)


def test_davies_bouldin_q2_is_one_job(spark):
    rows = [(float(i), float(-i), i % 3) for i in range(30)]
    df = _with_features(spark.createDataFrame(rows, ["f1", "f2", "prediction"]))
    df = df.cache()
    df.count()
    sc = spark.sparkContext
    sc.setJobGroup("db-onejob", "davies_bouldin q=2")
    try:
        davies_bouldin(df, q=2)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("db-onejob")
    # One aggregation = ≤2 Spark jobs under AQE (shuffle-map stage +
    # result stage). The old 3-pass version (first() for dim, centroid
    # collect, scatter collect) showed ≥4.
    assert len(jobs) <= 2, f"expected one aggregation (≤2 AQE jobs), saw {len(jobs)}"
    df.unpersist()


def test_model_registry_constructs_all(spark):
    for (algo, task) in MODEL_REGISTRY:
        est = build_estimator(algo, task)
        assert est is not None
    with pytest.raises(ValueError):
        build_estimator("nope", "classification")


# ---------------------------------------------------------------------------
# FeatureEngineer (the reference's 13 behaviors)
# ---------------------------------------------------------------------------

def test_aggregation_features(spark):
    fe = FeatureEngineer(spark)
    df = spark.createDataFrame([("a", 1.0), ("a", 3.0), ("b", 5.0)], ["g", "v"])
    out = fe.create_aggregation_features(df, ["g"], ["v"])
    assert out.count() == 3
    got = {r["g"]: r["v_mean"] for r in out.select("g", "v_mean").distinct().collect()}
    assert got == {"a": 2.0, "b": 5.0}


def test_binning_features_multi_column_single_fit(spark):
    fe = FeatureEngineer(spark)
    df = spark.createDataFrame([(float(i), float(100 - i)) for i in range(100)], ["x", "y"])
    out = fe.create_binning_features(df, ["x", "y"], num_bins=4)
    assert {"x_binned", "y_binned"} <= set(out.columns)
    assert out.select("x_binned").distinct().count() == 4


def test_outlier_features_flags_the_outlier(spark):
    fe = FeatureEngineer(spark)
    vals = [10.0] * 20 + [10.5] * 20 + [1000.0]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    out = fe.create_outlier_features(df, ["v"], threshold=3.0)
    flagged = [r["v"] for r in out.filter(F.col("v_is_outlier") == 1).collect()]
    assert flagged == [1000.0]  # reference test asserts the outlier is caught


def test_clip_to_percentiles_winsorizes_exactly(spark):
    fe = FeatureEngineer(spark)
    vals = [float(i) for i in range(1, 101)]
    df = spark.createDataFrame([(v, v * 2) for v in vals], ["v", "w"])
    out = fe.clip_to_percentiles(df, ["v", "w"], lower=0.1, upper=0.9)
    got = out.select("v", "v_clipped", "w_clipped").orderBy("v").collect()
    # exact interpolated percentiles of 1..100: p10 = 10.9, p90 = 90.1
    assert got[0]["v_clipped"] == pytest.approx(10.9)
    assert got[-1]["v_clipped"] == pytest.approx(90.1)
    assert got[49]["v_clipped"] == 50.0  # interior values untouched
    assert got[0]["w_clipped"] == pytest.approx(21.8)  # per-column bounds
    assert out.columns[:2] == ["v", "w"]  # originals preserved


def test_clip_to_percentiles_preserves_nulls(spark):
    """NULL inputs must stay NULL in {col}_clipped — greatest/least
    skip nulls, so an unguarded clamp silently imputes the lower
    percentile (ADVICE r5). Every FeatureEngineer transform
    propagates nulls."""
    fe = FeatureEngineer(spark)
    rows = [(float(i),) for i in range(1, 101)] + [(None,)]
    df = spark.createDataFrame(rows, schema="v double")
    out = fe.clip_to_percentiles(df, ["v"], lower=0.1, upper=0.9)
    null_rows = out.filter(F.col("v").isNull()).collect()
    assert len(null_rows) == 1 and null_rows[0]["v_clipped"] is None
    # non-null behavior unchanged
    got = out.filter(F.col("v").isNotNull()).orderBy("v").collect()
    assert got[0]["v_clipped"] == pytest.approx(10.9)
    assert got[-1]["v_clipped"] == pytest.approx(90.1)


def test_missing_value_strategies(spark):
    fe = FeatureEngineer(spark)
    df = spark.createDataFrame(
        [(1.0, "a"), (None, "b"), (3.0, "c")], ["v", "s"]
    )
    dropped = fe.handle_missing_values(df, strategy="drop")
    assert dropped.count() == 2
    imputed = fe.handle_missing_values(df, numeric_cols=["v"], strategy="mean")
    assert imputed.count() == 3
    got = sorted(r["v"] for r in imputed.collect())
    assert got == [1.0, 2.0, 3.0]  # mean-imputed in place, column name kept


def test_frequency_and_target_encoding_chain(spark):
    fe = FeatureEngineer(spark)
    df = spark.createDataFrame(
        [("A", "x", 1.0), ("A", "y", 2.0), ("B", "x", 9.0)], ["c1", "c2", "y"]
    )
    out = fe.create_frequency_encoding(df, ["c1", "c2"])
    r = out.filter((F.col("c1") == "A") & (F.col("c2") == "x")).first()
    assert r["c1_freq"] == 2 and r["c2_freq"] == 2
    out2 = fe.create_target_encoding(df, ["c1"], "y")
    got = {r["c1"]: r["c1_target_encoded"] for r in out2.select("c1", "c1_target_encoded").distinct().collect()}
    assert got == {"A": 1.5, "B": 9.0}


def test_polynomial_and_pca(spark):
    fe = FeatureEngineer(spark)
    df = _with_features(
        spark.createDataFrame([(1.0, 2.0), (3.0, 4.0), (5.0, 7.0)], ["f1", "f2"])
    )
    poly = fe.create_polynomial_features(df, degree=2)
    assert len(poly.first()["poly_features"]) == 5  # (n+d choose d)-1 for n=2,d=2
    pca = fe.create_pca_features(df, k=1)
    assert len(pca.first()["pca_features"]) == 1


def test_new_registry_algorithms_fit_and_predict(spark):
    """Fit smoke for the round-2 registry additions on a tiny binary
    problem; every estimator must produce a prediction column. The
    label is f1's parity, which no hyperplane separates, so LinearSVC
    never meets its tolerance and runs every iteration (~3 Spark jobs
    each): ``max_iter`` is capped for the two SVC entries, which still
    exercises the registry's param plumbing."""
    rows = [(float(i % 10), float((i * 7) % 10), float(i % 2)) for i in range(60)]
    df = _with_features(spark.createDataFrame(rows, ["f1", "f2", "label"]))
    for algo, task, params in [
        ("decision_tree", "classification", {}),
        ("linear_svc", "classification", {"max_iter": 10}),
        ("one_vs_rest", "classification", {"max_iter": 10}),
        ("mlp", "classification", {"layers": [2, 5, 2]}),
        ("decision_tree", "regression", {}),
        ("isotonic", "regression", {}),
    ]:
        est = build_estimator(algo, task, **params)
        preds = est.fit(df).transform(df)
        assert preds.select("prediction").count() == 60, (algo, task)


def test_text_feature_pipeline_exact_counts(spark):
    """Tokenize -> stopword -> CountVectorizer -> IDF: the sparse TF
    vector carries EXACT token counts (stopwords removed), and the
    fitted vocabulary matches the corpus."""
    from big_data_ml_pipeline_spark.features.text_features import (
        fit_text_features,
    )

    df = spark.createDataFrame(
        [
            (1, "the cat cat sat"),
            (2, "the dog sat sat sat"),
        ],
        ["doc_id", "text"],
    )
    model, out = fit_text_features(
        df, vocab_size=10, stopwords=["the"]
    )
    cv = model.stages[-2]  # CountVectorizerModel
    vocab = list(cv.vocabulary)
    assert set(vocab) == {"cat", "dog", "sat"}
    rows = {r["doc_id"]: r["text_features"] for r in out.collect()}
    # IDF('sat') = ln((N+1)/(df+1)) with df=2, N=2 -> 0: the
    # everywhere-token is zeroed; rare tokens keep weight.
    sat_idx = vocab.index("sat")
    cat_idx = vocab.index("cat")
    assert rows[1][sat_idx] == 0.0
    assert rows[1][cat_idx] > 0.0
    assert rows[2][vocab.index("dog")] > 0.0
    assert "text_features" in out.columns and "__tf" not in out.columns


def test_text_pipeline_ngram_mode(spark):
    from big_data_ml_pipeline_spark.features.text_features import (
        fit_text_features,
    )

    df = spark.createDataFrame([(1, "a b c"), (2, "a b d")], ["doc_id", "text"])
    model, out = fit_text_features(df, ngram_n=2, stopwords=[])
    cv = model.stages[-2]
    assert set(cv.vocabulary) == {"a b", "b c", "b d"}
    assert out.count() == 2


def test_word2vec_trains_and_embeds(spark):
    from big_data_ml_pipeline_spark.features.text_features import (
        train_word2vec,
    )

    docs = [(i, "spark query engine " + ("fast " * (i % 3 + 1)).strip())
            for i in range(20)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    model, out = train_word2vec(df, vector_size=8)
    vecs = {r["word"]: r["vector"] for r in model.getVectors().collect()}
    assert {"spark", "query", "engine", "fast"} <= set(vecs)
    assert all(len(v) == 8 for v in vecs.values())
    row = out.first()
    assert len(row["w2v"]) == 8 and "__tokens" not in out.columns


def _planted_quality_corpus(spark):
    """Planted-quality fixture: 40 natural-English docs (common shared
    words, stopwords, normal lengths) vs 40 gibberish docs (globally
    unique rare tokens — each appears once in the corpus, so the
    self-corpus unigram proxy scores them at the vocabulary floor),
    plus edge docs (empty / one short) that must survive scoring."""
    rows = []
    for i in range(40):
        rows.append(
            (
                i,
                "the quick brown fox and the lazy dog walk to the old "
                "market of the town and they talk about the weather and "
                f"the news of the day number {i} with a friend",
                "en",
                1.0,
            )
        )
    for i in range(40):
        gibberish = " ".join(f"qz{i}x{j}vw" for j in range(30))
        rows.append((100 + i, gibberish, "en", 0.0))
    rows.append((900, "", "en", 0.0))  # empty doc
    rows.append((901, "tiny", "en", 0.0))
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, truth double"
    )


def test_quality_classifier_rows_auc_and_separation(spark):
    """Model-based quality filter (ml/quality.py, q160 — VERDICT r9
    item 2): (a) EXACT row preservation incl. empty docs; (b) AUC of
    p_head against the PLANTED truth ≥ 0.95 on a corpus the weak
    head/tail tier labels can separate; (c) mean head-class score
    strictly above mean tail-class score; (d) keep == (p_head >=
    threshold) row-wise."""
    from big_data_ml_pipeline_spark.ml.quality import (
        quality_classifier_scores,
    )

    docs = _planted_quality_corpus(spark)
    out = quality_classifier_scores(
        docs, lang_col="lang", keep_threshold=0.5
    ).persist()
    try:
        rows = out.collect()
        assert len(rows) == docs.count()
        assert {r["doc_id"] for r in rows} == {
            r["doc_id"] for r in docs.collect()
        }
        truth = {r["doc_id"]: r["truth"] for r in docs.collect()}
        scored = [(r["p_head"], truth[r["doc_id"]]) for r in rows]
        pos = sorted(p for p, t in scored if t == 1.0)
        neg = sorted(p for p, t in scored if t == 0.0)
        # exact Mann-Whitney AUC (ties at 0.5 credit)
        import bisect

        hits = 0.0
        for p in pos:
            lo = bisect.bisect_left(neg, p)
            hi = bisect.bisect_right(neg, p)
            hits += lo + 0.5 * (hi - lo)
        auc = hits / (len(pos) * len(neg))
        assert auc >= 0.95, auc
        mean_pos = sum(pos) / len(pos)
        mean_neg = sum(neg) / len(neg)
        assert mean_pos > mean_neg
        for r in rows:
            assert r["keep"] == (r["p_head"] >= 0.5)
    finally:
        out.unpersist()


def test_quality_feature_table_one_row_per_doc(spark):
    """The classifier's feature pass: one row per document, all six
    features non-NULL (0.0 sentinels for the empty doc — a NULL would
    make the assembler drop the row and break row preservation)."""
    from big_data_ml_pipeline_spark.ml.quality import (
        QUALITY_FEATURES,
        quality_feature_table,
    )

    docs = _planted_quality_corpus(spark)
    feats = quality_feature_table(docs, lang_col="lang")
    rows = feats.collect()
    assert len(rows) == docs.count()
    assert set(QUALITY_FEATURES) <= set(feats.columns)
    for r in rows:
        for c in QUALITY_FEATURES:
            assert r[c] is not None, (r["doc_id"], c)
    empty = [r for r in rows if r["doc_id"] == 900][0]
    assert empty["n_tokens"] == 0 and empty["mean_logp"] == 0.0


def test_quality_classifier_validates_n_buckets(spark):
    from big_data_ml_pipeline_spark.ml.quality import (
        quality_classifier_scores,
    )

    docs = _planted_quality_corpus(spark)
    with pytest.raises(ValueError, match="n_buckets"):
        quality_classifier_scores(docs, lang_col="lang", n_buckets=1)


def test_quality_classifier_external_lm_counts_consistency(spark):
    """Feature-consistent train/score pairing (the streaming-gate
    form): fitting AND scoring under the SAME external (token, cnt)
    model — token_counts of the training corpus, the shape the
    streaming vocabulary summary feeds score_quality — still separates
    the planted classes, and scoring the training corpus under the
    external model equals the self-corpus path when the external model
    IS that corpus's own counts (unigram_loglik == its from_counts
    twin on the defining corpus, modulo Laplace smoothing — so p_head
    ordering, not exact values, is pinned)."""
    from big_data_ml_pipeline_spark.ml.quality import (
        fit_quality_classifier,
        score_quality,
    )
    from big_data_ml_pipeline_spark.operators.text import token_counts

    docs = _planted_quality_corpus(spark)
    counts = token_counts(docs).persist()
    try:
        model = fit_quality_classifier(docs, lm_counts=counts)
        scored = {
            r["doc_id"]: r["p_head"]
            for r in score_quality(
                model, docs, lm_counts=counts
            ).collect()
        }
        assert len(scored) == docs.count()
        good = [scored[i] for i in range(40)]
        bad = [scored[100 + i] for i in range(40)]
        assert min(good) > max(bad)
    finally:
        counts.unpersist()


def test_quality_calibration_deciles_monotone(spark):
    """q170's calibration evidence pinned on the planted corpus
    (VERDICT r10 item 6): bucket p_head into the same deciles the
    driver query publishes and check the keep_threshold=0.5 boundary
    is principled — everything scoring in the >= 0.5 deciles is
    planted-good (frac_true >= 0.9), everything below is planted-bad
    (<= 0.1), and the score ORDERS the classes (mean decile of good
    docs well above bad docs). The planted corpus separates sharply
    (the AUC >= 0.95 pin above), so these are strong floors, not
    tuned slack."""
    from big_data_ml_pipeline_spark.ml.quality import (
        quality_classifier_scores,
    )

    docs = _planted_quality_corpus(spark)
    scored = quality_classifier_scores(docs)
    j = (
        scored.join(docs.select("doc_id", "truth"), "doc_id")
        .withColumn(
            "decile",
            F.least(F.floor(F.col("p_head") * 10), F.lit(9)).cast("long"),
        )
        .collect()
    )
    assert len(j) == docs.count()
    lo = [r for r in j if r["decile"] < 5]
    hi = [r for r in j if r["decile"] >= 5]
    assert lo and hi
    frac_hi = sum(r["truth"] for r in hi) / len(hi)
    frac_lo = sum(r["truth"] for r in lo) / len(lo)
    assert frac_hi >= 0.9, frac_hi
    assert frac_lo <= 0.1, frac_lo
    mean_dec_good = sum(r["decile"] for r in j if r["truth"] == 1.0) / sum(
        1 for r in j if r["truth"] == 1.0
    )
    mean_dec_bad = sum(r["decile"] for r in j if r["truth"] == 0.0) / sum(
        1 for r in j if r["truth"] == 0.0
    )
    assert mean_dec_good - mean_dec_bad >= 3, (mean_dec_good, mean_dec_bad)
    # keep == (p_head >= 0.5) must agree with the decile boundary.
    for r in j:
        assert r["keep"] == (r["decile"] >= 5)
