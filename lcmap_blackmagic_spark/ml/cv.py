"""K-fold cross-validation over the distributed trainer — the model
selection loop a training pipeline runs on top of the k-fold split
(registry.analytics.q_kfold_split is the split's oracle-checked twin).

Reference parity: the reference fits once on a single random split
(blackmagic/blueprints/tile.py:287-331); CV generalizes that with the
same hash-deterministic fold assignment the registry uses — stable
across reruns, shards, and cluster sizes, with no RNG state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .train import evaluate, train_model


def fold_of(id_col: str, k: int):
    """md5-hash fold in [0, k) — the repo-wide deterministic hash
    (registry.analytics._md48, same contract as q_kfold_split)."""
    from ..registry.analytics import _md48
    return _md48(F.concat(F.lit("f:"), F.col(id_col))) % k


def cross_validate(df: DataFrame, id_col: str, k: int = 5,
                   trainer: str = "spark_ml") -> list[dict]:
    """K-fold CV of ``train_model`` on a (id, label, features)
    DataFrame: fit on k−1 folds, score multiclass log-loss on the
    held-out fold.  Each fit is the fully distributed spark_ml path
    by default (no driver matrix); the folds DataFrame is computed
    once and filtered per round — at scale, persist it (or write the
    fold column into the feature store) so the lineage isn't re-read
    k times."""
    folded = df.withColumn("__fold", fold_of(id_col, k))
    # fold sizes in ONE job, not 2k count() lineage replays
    sizes = {r["__fold"]: r["count"]
             for r in folded.groupBy("__fold").count().collect()}
    total = sum(sizes.values())
    out = []
    for fold in range(k):
        n_test = sizes.get(fold, 0)
        if n_test == 0:
            # tiny input can leave a hash fold empty; evaluate() on
            # zero rows would np.mean an empty array into a silent
            # NaN — report the fold as skipped instead
            out.append({"fold": fold, "n_train": total, "n_test": 0,
                        "mlogloss": None})
            continue
        train = folded.filter(F.col("__fold") != fold)
        test = folded.filter(F.col("__fold") == fold)
        model = train_model(train.drop("__fold"), trainer=trainer)
        out.append({
            "fold": fold,
            "n_train": total - n_test,
            "n_test": n_test,
            "mlogloss": evaluate(model, test.drop("__fold")),
        })
    return out
