"""ML training / evaluation / comparison (SURVEY.md §2.11 M1–M6).

Spark-native counterpart of the reference's SageMaker scripts:

- M1 train RF / GBT / LogReg (``sagemaker/training/train.py:106-156``) →
  ``pyspark.ml.classification`` on the gold feature table, split by the
  deterministic ``data_split`` column;
- M2 metrics (``train.py:158-170``, ``evaluate.py:142-201``) →
  classification via ``MulticlassClassificationEvaluator`` /
  ``BinaryClassificationEvaluator``; regression MSE/RMSE/MAE/R² via one
  single-pass aggregation (:func:`regression_metrics`);
- M3 k-fold CV (``evaluate.py:202-224``) → ``pyspark.ml.tuning.CrossValidator``;
- M4/M5 paired t-test + Cohen's d and bootstrap CI comparison
  (``ab_testing.py:86-207``) → driver-side numpy over the (tiny) fold
  scores — per the reference, comparison statistics run on collected
  scores, never on distributed data;
- M6 hyperparameter search (``ml_pipeline_orchestrator``) → three
  tiers: ``ParamGridBuilder`` grid via CrossValidator, seeded random
  search + successive halving (:func:`random_search`), and a real
  GP-surrogate Bayesian optimizer (:func:`bayesian_search`, Snoek et
  al. 2012 — the reference's declared tuner over the same continuous
  ranges; the reference also searches a categorical model-type
  dimension (RF/GBT/LogReg) which this tier pins to GBT — run
  :func:`bayesian_search` per model type and take the max to cover it).

Scale: training data stays a DataFrame end-to-end; only fold *scores*
(K floats) ever reach the driver.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_FEATURE_COLS = [
    "total_orders",
    "lifetime_value",
    "avg_order_value",
    "recency_days",
    "tenure_days",
    "weekend_orders",
    "max_quarter_orders",
]


def _prepare(features: DataFrame, label_col: str, feature_cols: list[str] | None):
    from pyspark.ml.feature import VectorAssembler

    cols = feature_cols or DEFAULT_FEATURE_COLS
    assembler = VectorAssembler(inputCols=cols, outputCol="features", handleInvalid="keep")
    return assembler.transform(
        features.withColumn("label", F.col(label_col).cast("double")).fillna(0, subset=cols)
    )


def make_classifier(model_type: str, **params):
    """RF / GBT / LogReg factory with the reference's hyperparameter names
    (n_estimators→numTrees/maxIter, max_depth→maxDepth)."""
    from pyspark.ml.classification import (
        GBTClassifier,
        LogisticRegression,
        RandomForestClassifier,
    )

    if model_type == "random_forest":
        return RandomForestClassifier(
            numTrees=params.get("n_estimators", 100),
            maxDepth=params.get("max_depth", 10),
            seed=params.get("seed", 42),
        )
    if model_type == "gradient_boosting":
        return GBTClassifier(
            maxIter=params.get("n_estimators", 50),
            maxDepth=params.get("max_depth", 5),
            stepSize=params.get("learning_rate", 0.1),
            seed=params.get("seed", 42),
        )
    if model_type == "logistic_regression":
        return LogisticRegression(maxIter=params.get("max_iter", 100))
    raise ValueError(f"unknown model_type {model_type!r}")


def train_classifier(
    features: DataFrame,
    label_col: str = "churn_flag",
    model_type: str = "random_forest",
    feature_cols: list[str] | None = None,
    **params,
):
    """Train on the ``data_split == 'train'`` partition; returns
    ``(model, metrics_dict)`` with held-out test metrics (M1+M2)."""
    prepared = _prepare(features, label_col, feature_cols)
    train = prepared.filter(F.col("data_split") == "train")
    test = prepared.filter(F.col("data_split") == "test")
    model = make_classifier(model_type, **params).fit(train)
    return model, evaluate_classifier(model, test)


def evaluate_classifier(model, test: DataFrame) -> dict:
    """Accuracy / weighted precision / recall / F1 / ROC-AUC (M2)."""
    from pyspark.ml.evaluation import (
        BinaryClassificationEvaluator,
        MulticlassClassificationEvaluator,
    )

    pred = model.transform(test)
    out = {"n_test": pred.count()}
    for metric, key in [
        ("accuracy", "accuracy"),
        ("weightedPrecision", "precision"),
        ("weightedRecall", "recall"),
        ("f1", "f1"),
    ]:
        out[key] = MulticlassClassificationEvaluator(metricName=metric).evaluate(pred)
    out["roc_auc"] = BinaryClassificationEvaluator(metricName="areaUnderROC").evaluate(pred)
    return out


def make_regressor(model_type: str, **params):
    """RF / GBT / linear regressor factory, mirroring
    :func:`make_classifier`'s hyperparameter-name mapping
    (``sagemaker/training/evaluate.py:182-201`` evaluates regressors with
    the same model families)."""
    from pyspark.ml.regression import (
        GBTRegressor,
        LinearRegression,
        RandomForestRegressor,
    )

    if model_type == "random_forest":
        return RandomForestRegressor(
            numTrees=params.get("n_estimators", 100),
            maxDepth=params.get("max_depth", 10),
            seed=params.get("seed", 42),
        )
    if model_type == "gradient_boosting":
        return GBTRegressor(
            maxIter=params.get("n_estimators", 50),
            maxDepth=params.get("max_depth", 5),
            stepSize=params.get("learning_rate", 0.1),
            seed=params.get("seed", 42),
        )
    if model_type == "linear_regression":
        return LinearRegression(maxIter=params.get("max_iter", 100))
    raise ValueError(f"unknown model_type {model_type!r}")


def train_regressor(
    features: DataFrame,
    label_col: str = "lifetime_value",
    model_type: str = "random_forest",
    feature_cols: list[str] | None = None,
    **params,
):
    """Train a regressor on the ``data_split == 'train'`` partition;
    returns ``(model, metrics_dict)`` with held-out MSE/RMSE/MAE/R²
    (M1+M2 regression side, ``evaluate.py:182-201``)."""
    cols = [c for c in (feature_cols or DEFAULT_FEATURE_COLS) if c != label_col]
    prepared = _prepare(features, label_col, cols)
    train = prepared.filter(F.col("data_split") == "train")
    test = prepared.filter(F.col("data_split") == "test")
    model = make_regressor(model_type, **params).fit(train)
    return model, evaluate_regressor(model, test)


def evaluate_regressor(model, test: DataFrame) -> dict:
    """MSE / RMSE / MAE / R² for a fitted regressor on a prepared test
    split (M2 regression, ``evaluate.py:182-201``)."""
    pred = model.transform(test)
    out = regression_metrics(pred, "label", "prediction")
    out["n_test"] = pred.count()
    return out


def regression_metrics(pred: DataFrame, label_col: str, pred_col: str) -> dict:
    """MSE, RMSE, MAE, R² over a predictions DataFrame in ONE distributed
    pass (a ``RegressionEvaluator`` per metric would re-scan the
    predictions four times; one agg computes every sufficient statistic
    together). Definitions match ``evaluate.py:190-195``:
    R² = 1 − SS_res/SS_tot."""
    err = F.col(label_col) - F.col(pred_col)
    row = pred.agg(
        F.avg(err * err).alias("mse"),
        F.avg(F.abs(err)).alias("mae"),
        F.sum(err * err).alias("ss_res"),
        F.avg(F.col(label_col)).alias("y_mean"),
        F.sum(F.col(label_col) * F.col(label_col)).alias("y_sq_sum"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    # SS_tot = Σy² − n·ȳ² (one pass; no second scan with the mean joined in)
    ss_tot = row["y_sq_sum"] - row["n"] * row["y_mean"] ** 2
    return {
        "mse": row["mse"],
        "rmse": math.sqrt(row["mse"]),
        "mae": row["mae"],
        "r2": 1.0 - row["ss_res"] / ss_tot if ss_tot > 0 else float("nan"),
    }


def cross_validate_scores(
    features: DataFrame,
    label_col: str = "churn_flag",
    model_type: str = "random_forest",
    k: int = 5,
    metric: str = "f1",
    feature_cols: list[str] | None = None,
    max_folds: int | None = None,
    **params,
) -> list[float]:
    """Per-fold scores via deterministic hash-bucket folds (M3).

    Folds come from ``split_bucket % k`` (already-computed deterministic
    buckets), so fold membership is reproducible across runs/engines —
    the same property the engine's data_split has. ``max_folds`` caps how
    many of the k folds are actually evaluated (cheap screening passes —
    fold *membership* still uses all k buckets, so a 1-fold screen
    trains on (k-1)/k of the data exactly like the full CV's fold 0).
    """
    prepared = _prepare(features, label_col, feature_cols)
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    scores = []
    evaluator = MulticlassClassificationEvaluator(metricName=metric)
    for fold in range(k if max_folds is None else min(k, max_folds)):
        is_fold = (F.col("split_bucket") % k) == fold
        model = make_classifier(model_type, **params).fit(prepared.filter(~is_fold))
        scores.append(evaluator.evaluate(model.transform(prepared.filter(is_fold))))
    return scores


def grid_search(
    features: DataFrame,
    label_col: str = "churn_flag",
    num_trees_grid: tuple[int, ...] = (20, 50),
    max_depth_grid: tuple[int, ...] = (3, 5),
    k: int = 3,
    feature_cols: list[str] | None = None,
) -> dict:
    """CrossValidator + ParamGridBuilder hyperparameter grid (M6)."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    prepared = _prepare(features, label_col, feature_cols)
    rf = RandomForestClassifier(seed=42)
    grid = (
        ParamGridBuilder()
        .addGrid(rf.numTrees, list(num_trees_grid))
        .addGrid(rf.maxDepth, list(max_depth_grid))
        .build()
    )
    cv = CrossValidator(
        estimator=rf,
        estimatorParamMaps=grid,
        evaluator=MulticlassClassificationEvaluator(metricName="f1"),
        numFolds=k,
        seed=42,
        parallelism=4,
    )
    model = cv.fit(prepared)
    best = model.bestModel
    return {
        "best_num_trees": best.getNumTrees,
        "best_max_depth": best.getMaxDepth(),
        "avg_metrics": [float(m) for m in model.avgMetrics],
    }


def random_search(
    features: DataFrame,
    label_col: str = "churn_flag",
    n_candidates: int = 8,
    k: int = 3,
    seed: int = 42,
    feature_cols: list[str] | None = None,
) -> dict:
    """Seeded random hyperparameter search with successive halving — the
    practical stand-in for the reference's Bayesian tuner
    (``lambda/ml_pipeline_orchestrator/lambda_function.py:97-199``, ranges
    n_estimators 50–200, max_depth 3–20, lr log-uniform 0.001–0.3).

    Random sampling over the same ranges dominates grid search at equal
    budget (Bergstra & Bengio, JMLR 2012); successive halving spends the
    budget unevenly — every candidate gets a cheap 1-fold screen, only
    the top half pays full k-fold CV. Fully deterministic: seeded
    sampler + hash-bucket folds + seeded models.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    cands = [
        {
            "n_estimators": int(rng.integers(50, 201)),
            "max_depth": int(rng.integers(3, 21)),
            "learning_rate": float(np.exp(rng.uniform(np.log(0.001), np.log(0.3)))),
        }
        for _ in range(n_candidates)
    ]
    prepared_kwargs = {"label_col": label_col, "feature_cols": feature_cols}

    def score(params: dict, max_folds: int | None) -> float:
        scores = cross_validate_scores(
            features,
            model_type="gradient_boosting",
            k=k,
            max_folds=max_folds,
            **prepared_kwargs,
            **params,
        )
        return sum(scores) / len(scores)

    screened = sorted(
        (score(p, 1), i) for i, p in enumerate(cands)
    )  # 1-of-k-fold screen: ~k× cheaper per candidate
    survivors = [cands[i] for _, i in screened[-max(1, n_candidates // 2):]]
    finals = sorted((score(p, None), i) for i, p in enumerate(survivors))
    best_score, best_i = finals[-1]
    return {
        "best_params": survivors[best_i],
        "best_score": best_score,
        "n_evaluated": len(cands),
        "n_full_cv": len(survivors),
    }


#: Search-space bounds shared by the tuners — the reference's ranges
#: (``lambda/ml_pipeline_orchestrator/lambda_function.py:97-199``):
#: n_estimators 50–200, max_depth 3–20, learning_rate log-uniform
#: 0.001–0.3 (searched in log space, as the reference declares).
_HPO_SPACE = (("n_estimators", 50.0, 200.0), ("max_depth", 3.0, 20.0))


def bayesian_search(
    features: DataFrame,
    label_col: str = "churn_flag",
    n_init: int = 3,
    n_iterations: int = 5,
    k: int = 3,
    seed: int = 42,
    feature_cols: list[str] | None = None,
    n_acq_candidates: int = 512,
    exploration_xi: float = 0.01,
    model_type: str = "gradient_boosting",
) -> dict:
    """Bayesian hyperparameter optimization — the reference's declared
    tuner (``lambda/ml_pipeline_orchestrator/lambda_function.py:97-199``)
    implemented from the public recipe (Snoek, Larochelle & Adams,
    *Practical Bayesian Optimization of Machine Learning Algorithms*,
    NeurIPS 2012): a Gaussian-process surrogate with an RBF kernel over
    the unit-cube-normalized search space and an expected-improvement
    acquisition maximized by seeded candidate sampling.

    The reference's search space adds a CATEGORICAL model-type
    dimension (random_forest / gradient_boosting / logistic_regression);
    a GP with an RBF kernel has no native categorical support, so
    :func:`bayesian_search_model_types` covers it with the standard
    decomposition — one independent GP per model type, best result wins.
    ``model_type`` here selects which conditional search this is; the
    factory ignores dimensions a model doesn't have (the reference's
    tuner declares the same ranges for every type).

    Loop: ``n_init`` seeded space-filling evaluations, then
    ``n_iterations`` rounds of fit-GP → argmax-EI → evaluate. Every
    evaluation is a full deterministic k-fold CV of a seeded GBT (the
    expensive, cluster-side step — the GP algebra is driver-side numpy
    on ≤ n_init+n_iterations points, a few O(n³≤~10³) solves).

    Fully deterministic: one seeded generator drives both the initial
    design and the acquisition candidates; folds are hash-bucketed;
    models are seeded. Numpy-only (no scipy): the normal CDF uses
    ``math.erf`` vectorized over the candidate batch.
    """
    import numpy as np

    lo = np.array([b for _, b, _ in _HPO_SPACE] + [np.log(0.001)])
    hi = np.array([t for _, _, t in _HPO_SPACE] + [np.log(0.3)])

    def to_params(u: "np.ndarray") -> dict:
        v = lo + u * (hi - lo)
        return {
            "n_estimators": int(round(v[0])),
            "max_depth": int(round(v[1])),
            "learning_rate": float(np.exp(v[2])),
        }

    def score(params: dict) -> float:
        scores = cross_validate_scores(
            features,
            model_type=model_type,
            k=k,
            label_col=label_col,
            feature_cols=feature_cols,
            **params,
        )
        return sum(scores) / len(scores)

    rng = np.random.default_rng(seed)
    X = [rng.uniform(size=3) for _ in range(n_init)]
    y = [score(to_params(x)) for x in X]

    length_scale, noise = 0.25, 1e-6
    erf = np.vectorize(math.erf)

    def rbf(a: "np.ndarray", b: "np.ndarray") -> "np.ndarray":
        d2 = ((a[:, None, :] - b[None, :, :]) ** 2).sum(-1)
        return np.exp(-d2 / (2.0 * length_scale * length_scale))

    for _ in range(n_iterations):
        A, yv = np.asarray(X), np.asarray(y)
        sd = yv.std()
        yn = (yv - yv.mean()) / (sd if sd > 0 else 1.0)
        L = np.linalg.cholesky(rbf(A, A) + noise * np.eye(len(A)))
        alpha = np.linalg.solve(L.T, np.linalg.solve(L, yn))
        cand = rng.uniform(size=(n_acq_candidates, 3))
        Ks = rbf(cand, A)
        mu = Ks @ alpha
        v = np.linalg.solve(L, Ks.T)
        sigma = np.sqrt(np.clip(1.0 - (v**2).sum(axis=0), 1e-12, None))
        z = (mu - yn.max() - exploration_xi) / sigma
        ei = (mu - yn.max() - exploration_xi) * 0.5 * (1.0 + erf(z / np.sqrt(2.0))) + sigma * np.exp(
            -0.5 * z * z
        ) / np.sqrt(2.0 * np.pi)
        x_next = cand[int(ei.argmax())]
        X.append(x_next)
        y.append(score(to_params(x_next)))

    i_best = int(np.argmax(y))
    return {
        "best_params": to_params(X[i_best]),
        "best_score": float(y[i_best]),
        "n_evaluated": len(X),
        "n_init": n_init,
        "history": [float(s) for s in y],
        "model_type": model_type,
    }


def bayesian_search_model_types(
    features: DataFrame,
    model_types: tuple[str, ...] = (
        "random_forest",
        "gradient_boosting",
        "logistic_regression",
    ),
    **kwargs,
) -> dict:
    """The reference tuner's full search space, categorical dimension
    included: one independent GP-Bayesian search per model type over the
    shared ranges (the standard decomposition of a categorical variable
    under an RBF kernel), best model type wins. Ties resolve to the
    earlier entry in ``model_types`` (max() is first-wins), so the
    result is deterministic given seeds. Returns the winner's record
    plus ``per_model`` best scores for the comparison table."""
    results = {mt: bayesian_search(features, model_type=mt, **kwargs) for mt in model_types}
    best_mt = max(model_types, key=lambda mt: results[mt]["best_score"])
    out = dict(results[best_mt])
    out["per_model"] = {mt: results[mt]["best_score"] for mt in model_types}
    return out


# -- model comparison statistics (driver-side, M4/M5) ------------------------


def paired_t_test(scores_a: list[float], scores_b: list[float]) -> dict:
    """Paired t statistic + Cohen's d over fold scores
    (``ab_testing.py:86-155``). Significance uses the two-sided t critical
    table at α=0.05 (numpy-only environment — no scipy p-values)."""
    import numpy as np

    a, b = np.asarray(scores_a, dtype=float), np.asarray(scores_b, dtype=float)
    if a.shape != b.shape or a.size < 2:
        raise ValueError("need equal-length score lists with n >= 2")
    d = a - b
    sd = d.std(ddof=1)
    # tolerance relative to the score scale: float jitter makes the
    # variance of "identical" scores ~1e-33, which would otherwise yield
    # absurd 1e15-scale statistics instead of the zero/infinite limits.
    eps = 1e-12 * max(1.0, float(np.abs(a).max()), float(np.abs(b).max()))
    mean_d = float(d.mean())
    if sd > eps:
        t = mean_d / (sd / math.sqrt(d.size))
    else:  # zero-variance differences: sign-correct infinite limit
        t = math.copysign(math.inf, mean_d) if abs(mean_d) > eps else 0.0
    pooled = math.sqrt((a.var(ddof=1) + b.var(ddof=1)) / 2)
    if pooled > eps:
        cohens_d = mean_d / pooled
    else:
        cohens_d = math.copysign(math.inf, mean_d) if abs(mean_d) > eps else 0.0
    # two-sided 0.05 critical values for df = n-1 (df 1..30)
    crit = [12.71, 4.303, 3.182, 2.776, 2.571, 2.447, 2.365, 2.306, 2.262, 2.228,
            2.201, 2.179, 2.16, 2.145, 2.131, 2.12, 2.11, 2.101, 2.093, 2.086,
            2.08, 2.074, 2.069, 2.064, 2.06, 2.056, 2.052, 2.048, 2.045, 2.042]
    df = min(d.size - 1, len(crit))
    return {
        "t_statistic": t,
        "cohens_d": cohens_d,
        "df": d.size - 1,
        "significant_at_05": abs(t) > crit[df - 1],
    }


def bootstrap_compare(
    scores_a: list[float], scores_b: list[float], n_resamples: int = 1000, seed: int = 42
) -> dict:
    """Seeded bootstrap CI of the mean score difference
    (``ab_testing.py:157-207``: 1000 resamples, 95% CI)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a, b = np.asarray(scores_a, dtype=float), np.asarray(scores_b, dtype=float)
    diffs = np.empty(n_resamples)
    for i in range(n_resamples):
        diffs[i] = rng.choice(a, a.size).mean() - rng.choice(b, b.size).mean()
    lo, hi = np.percentile(diffs, [2.5, 97.5])
    return {
        "mean_diff": float(a.mean() - b.mean()),
        "ci_low": float(lo),
        "ci_high": float(hi),
        "significant": bool(lo > 0 or hi < 0),
    }


def compare_metric(models: dict, metric_name: str) -> dict:
    """Single-metric comparison across candidate models
    (``ab_testing.py:48-85``): values, best/worst, pct improvement of
    the best over each other model, descending ranking. ``models`` maps
    name → ``{"metrics": {...}, "cv_scores": [...]}``. Ranking
    tie-breaks on name (the reference sorts by value alone, which is
    nondeterministic on exact ties). Returns {} when fewer than two
    models carry the metric, as the reference does."""
    values = {
        name: m["metrics"][metric_name]
        for name, m in models.items()
        if metric_name in m.get("metrics", {})
    }
    if len(values) < 2:
        return {}
    ranking = sorted(values.items(), key=lambda kv: (-kv[1], kv[0]))
    best_name, best_value = ranking[0]
    worst_name, worst_value = ranking[-1]
    improvements = {
        name: ((best_value - v) / v) * 100.0
        for name, v in values.items()
        if name != best_name
    }
    return {
        "metric_name": metric_name,
        "metric_values": values,
        "best_model": {"name": best_name, "value": best_value},
        "worst_model": {"name": worst_name, "value": worst_value},
        "improvements": improvements,
        "ranking": ranking,
    }


def comprehensive_comparison(
    models: dict, metrics: list[str] | None = None, test_metric: str = "accuracy"
) -> dict:
    """Multi-model, multi-metric comparison report
    (``ab_testing.py:208-318``): per-metric rankings, overall ranking by
    average 1-based rank across metrics, pairwise significance tests
    (paired t over cv_scores when both models carry them, the
    reference's 0.01-threshold point comparison otherwise), and the
    recommendation strings.

    Driver-side by design — the expensive part (training + CV) already
    ran on the cluster; this consumes the per-model score summaries.
    Fully deterministic: rankings tie-break on model name, pair keys are
    generated in sorted-name order.
    """
    metrics = metrics or sorted(
        {m for d in models.values() for m in d.get("metrics", {})}
    )
    out: dict = {
        "models": sorted(models),
        "metrics_compared": metrics,
        "metric_comparisons": {},
        "overall_ranking": [],
        "statistical_tests": {},
        "recommendations": [],
    }
    ranks: dict[str, list[int]] = {name: [] for name in models}
    for metric in metrics:
        cmp = compare_metric(models, metric)
        if not cmp:
            continue
        out["metric_comparisons"][metric] = cmp
        for i, (name, _v) in enumerate(cmp["ranking"]):
            ranks[name].append(i + 1)
    overall = {
        name: sum(rs) / len(rs) for name, rs in ranks.items() if rs
    }
    out["overall_ranking"] = sorted(overall.items(), key=lambda kv: (kv[1], kv[0]))
    names = sorted(models)
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            cv_a = models[a].get("cv_scores") or []
            cv_b = models[b].get("cv_scores") or []
            if cv_a and cv_b and len(cv_a) == len(cv_b):
                t = paired_t_test(cv_a, cv_b)
                mean_a = sum(cv_a) / len(cv_a)
                mean_b = sum(cv_b) / len(cv_b)
                test = {
                    **t,
                    "statistical_test": "paired_t",
                    "better_model": a if mean_a > mean_b else b,
                    "significant": t["significant_at_05"],
                }
            else:  # reference fallback: point comparison, 0.01 threshold
                va = models[a].get("metrics", {}).get(test_metric)
                vb = models[b].get("metrics", {}).get(test_metric)
                if va is None or vb is None:
                    continue
                test = {
                    "statistical_test": "point_comparison",
                    "value_a": va,
                    "value_b": vb,
                    "difference": va - vb,
                    "better_model": a if va > vb else b,
                    "significant": abs(va - vb) > 0.01,
                }
            out["statistical_tests"][f"{a}_vs_{b}"] = test
    if out["overall_ranking"]:
        best = out["overall_ranking"][0][0]
        out["recommendations"].append(f"Best overall model: {best}")
        significant = [
            f"{t['better_model']} significantly outperforms "
            f"{key.replace('_vs_', '/').replace(t['better_model'], '').strip('/')}"
            for key, t in out["statistical_tests"].items()
            if t.get("significant")
        ]
        if significant:
            out["recommendations"].extend(significant)
        else:
            out["recommendations"].append(
                "No statistically significant differences found between models"
            )
    return out
