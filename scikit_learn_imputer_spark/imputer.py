"""SparkImputer — the PySpark-native re-expression of the reference engine's
API surface (SURVEY.md §2.9 C1-C9).

Reference: /root/reference/scikit_learn_imputer/scikit_learn_imputer.py
(SklearnImputer, 584 LoC). For each column with missing values it trains a
supervised model (classifier for categorical, regressor for continuous) to
predict that column from all other columns (ffill/bfill-filled,
cardinality-pruned, one-hot-encoded, min-max-scaled), scores it on a held-out
split of the observed rows, and writes predictions into the missing cells.

Spark-first design decisions (NOT a port):
- Tables are lazy DataFrames with an explicit ``id`` key column — the pandas
  index (reference :38) has no distributed equivalent; all row addressing is
  key equi-joins, and the scatter write-back (reference :272) is ONE left
  join + coalesce for every imputed column at once. Each model scores only
  its own column's missing rows; the predictions are merged by id into one
  update side, broadcast only when its profiled bound (Σ missing cells ×
  row size) fits ``spark.sql.autoBroadcastJoinThreshold``.
- Missing values are native SQL NULLs — the reference's ``-1234`` sentinel
  (reference :223) is an implementation artifact that would corrupt data and
  is deliberately NOT replicated (SURVEY.md §7.3 #4).
- The input is profiled once (``_profile``: row total, per-column observed
  counts, continuous min/max, capped categorical domains — one bounded
  Spark action). The profile answers every question the reference asks of
  the table again: the cardinality gate, the one-hot domains, which
  columns to impute, the target labels and the scaler's ranges.
- The feature matrix is built and min-max scaled in one pass and
  materialized once; every per-column fit reads it (the reference copies
  it per column, :235).
- Models are MLlib Pipelines (VectorAssembler + user estimator), persisted
  with MLlib writers + a JSON manifest instead of a joblib pickle
  (reference :297).

Documented divergences from reference behavior:
- ``validate()`` scores against the validation_set's observed values — the
  *intended* semantics. The reference scores against ``self.input_data``
  (reference :389), so its validation_set only contributes a column list.
- ``fit`` uses an exact-fraction deterministic split (operators/split.py)
  seeded like sklearn's but with Spark's rand stream; per-row membership
  differs from sklearn's permutation for the same seed.
- Rounding uses ``F.bround`` (half-to-even) to match ``np.round``
  (reference :251), not Spark's default HALF_UP.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scikit_learn_imputer_spark.functions.stats import (
    avg_rank,
    entropy_by_column,
    imputation_variance_long,
)
from scikit_learn_imputer_spark.operators.encode import (
    label_decode,
    label_encode,
    one_hot,
)
from scikit_learn_imputer_spark.operators.fill import ffill_bfill
from scikit_learn_imputer_spark.operators.missing import (
    missing_indicator,
    missing_metrics,
)
from scikit_learn_imputer_spark.operators.scale import minmax_scale
from scikit_learn_imputer_spark.operators.split import split_exact


class SparkImputer:
    """Impute missing values in a DataFrame with mixed types using any MLlib
    classifier and regressor. ``id_col`` is the row key and must be numeric
    and unique (the reference's "index used as the ID", reference :38).

    Parameters mirror the reference constructor (reference :67-107):
    input_data, categorical, save_models_to, round_column, class_threshold,
    features, include_missing_flags — with ``save_models_to`` now a
    directory (MLlib writers), plus the Spark-required ``id_col``.
    """

    def __init__(
        self,
        input_data,
        categorical=None,
        save_models_to="./saved_model_spark",
        round_column=None,
        class_threshold=30,
        features=None,
        include_missing_flags=False,
        id_col="id",
    ):
        round_column = [] if round_column is None else round_column
        features = [] if features is None else features
        categorical = [] if categorical is None else categorical

        # Same parameter validation contract as reference :75-92 (formatted
        # TypeError per mistyped argument).
        checks = [
            ("input_data", input_data, DataFrame),
            ("categorical", categorical, list),
            ("save_models_to", save_models_to, str),
            ("round_column", round_column, list),
            ("class_threshold", class_threshold, int),
            ("features", features, list),
            ("include_missing_flags", include_missing_flags, bool),
        ]
        for parameter, value, expected in checks:
            if not isinstance(value, expected):
                input_type = str(type(value))
                expected_type = str(expected)
                for s in ["class", "<", ">", " ", "'"]:
                    input_type = input_type.replace(s, "")
                    expected_type = expected_type.replace(s, "")
                raise TypeError(
                    f"{parameter} must be {expected_type} not {input_type}"
                )

        not_in_df = [x for x in categorical if x not in input_data.columns]
        if len(not_in_df) != 0:
            raise KeyError(
                f"The following columns are not in data frame: {not_in_df}"
            )

        parent = os.path.dirname(os.path.abspath(save_models_to))
        if not os.path.exists(parent):
            raise OSError(
                "The directory specified in save_models_to does not exist"
            )

        if id_col not in input_data.columns:
            raise KeyError(f"id_col '{id_col}' is not in data frame")

        self.input_data = input_data
        self.categorical = categorical
        self.save_models_to = save_models_to
        self.round_column = round_column
        self.class_threshold = class_threshold
        self.features = features
        self.include_missing_flags = include_missing_flags
        self.id_col = id_col

    # ------------------------------------------------------------------ C2
    def missing_indicator(self) -> DataFrame:
        """One boolean ``<col>_flag`` per data column (reference :109-115),
        keyed by id instead of positional index."""
        return missing_indicator(
            self.input_data, self._data_cols(), keep=[self.id_col]
        )

    # ------------------------------------------------------------------ C3
    def missing_metrics(self) -> DataFrame:
        """(variable, observed, missing, total, imputation_rate) per column
        (reference :117-138) — ONE distributed aggregate pass."""
        return missing_metrics(self.input_data, self._data_cols())

    # ------------------------------------------------------------------ C4
    def create_features(self) -> DataFrame:
        """ffill/bfill → cardinality prune → one-hot → optional missing
        flags (reference :140-176). Returns a flat numeric frame keyed by
        id — flat named columns keep it oracle-checkable."""
        return self._features(self._profile())[0]

    def _features(
        self, profile: dict, missing: dict | None = None
    ) -> tuple[DataFrame, dict]:
        """``create_features`` from a profile, plus every feature column's
        exact ``(min, max)`` for ``minmax_scale(ranges=...)``. ffill/bfill
        only copies observed values, so a filled column has the observed
        value set: the profile's domains and min/max hold for it.

        ``missing`` maps target columns to flag names: each target's
        is-null flag rides along, unscaled, after the features, so the
        write-back selects a column's missing rows from the feature matrix
        without a join."""
        missing = missing or {}
        cols = self._feature_cols()
        categorical = [c for c in self.categorical if c in cols]
        domains = profile["domains"]
        ranges = {c: profile["ranges"][c] for c in cols if c not in categorical}
        df = self.input_data.select(
            self.id_col,
            *cols,
            *[F.col(c).isNull().alias(flag) for c, flag in missing.items()],
        )

        with _job_phase(df.sparkSession, "imputer:features"):
            filled = ffill_bfill(df, self.id_col, cols)

        too_many = [c for c in categorical if len(domains[c]) > self.class_threshold]
        keep_cats = [c for c in categorical if c not in too_many]
        filled = filled.drop(*too_many)

        encoded = one_hot(filled, keep_cats, values={c: domains[c] for c in keep_cats})
        # one_hot appends the dummies after the passthrough columns, in
        # (column, sorted value) order.
        dummies = encoded.columns[len(filled.columns) - len(keep_cats):]
        sizes = [len(domains[c]) for c in keep_cats for _ in domains[c]]
        for name, size in zip(dummies, sizes):
            ranges[name] = (0.0 if size > 1 else 1.0, 1.0)

        if self.include_missing_flags:
            flags = self.missing_indicator()
            flag_cols = [
                F.col(c).cast("int").alias(c)
                for c in flags.columns
                if c != self.id_col
            ]
            flags_int = flags.select(F.col(self.id_col), *flag_cols)
            encoded = encoded.join(flags_int, on=self.id_col, how="inner")
            total = profile["total"]
            for c in self._data_cols():
                observed = profile["observed"][c]
                ranges[f"{c}_flag"] = (
                    (float(observed == 0), float(observed < total))
                    if total
                    else (None, None)
                )

        # Cast everything numeric to double so the assembled vector is
        # homogeneous and the scaler is a plain projection.
        features = encoded.select(
            F.col(self.id_col),
            *[
                F.col(c).cast("double").alias(c)
                for c in encoded.columns
                if c != self.id_col and c not in missing.values()
            ],
            *missing.values(),
        )
        return features, ranges

    def _profile(self) -> dict:
        """One bounded pass over ``input_data`` (one Spark action): the row
        ``total``, every data column's ``observed`` count, the min/max of
        ``cast(double)`` of every non-categorical FEATURE column
        (``ranges``; other columns may have types with no cast to double),
        and each categorical column's sorted observed values
        (``domains``), capped at ``class_threshold + 1`` — enough to fail
        the gate."""
        cols = self._data_cols()
        cats = [c for c in cols if c in self.categorical]
        conts = [c for c in self._feature_cols() if c not in cats]
        profile = {
            "total": 0,
            "observed": dict.fromkeys(cols, 0),
            "ranges": dict.fromkeys(conts, (None, None)),
            "domains": {c: [] for c in cats},
        }
        with _job_phase(self.input_data.sparkSession, "imputer:profile"):
            rows = self._profile_query(cols, cats, conts).collect()
        for r in rows:
            if r["k"] < 0:
                profile["total"] = r["n"]
                profile["observed"] = {c: r[f"o{j}"] for j, c in enumerate(cols)}
                profile["ranges"] = {
                    c: (r[f"lo{j}"], r[f"hi{j}"]) for j, c in enumerate(conts)
                }
            else:
                profile["domains"][cats[r["k"]]].append(r[f"v{r['k']}"])
        for values in profile["domains"].values():
            values.sort()
        return profile

    def _profile_query(
        self, cols: list[str], cats: list[str], conts: list[str]
    ) -> DataFrame:
        """Each row explodes into a totals struct (tag ``k = -1``: non-null
        flags, continuous values) and one struct per non-null categorical
        cell (tag ``k`` = index in ``cats``, value in ``v{k}`` with its
        column's type). One aggregate grouped by ``(k, v…)`` yields the
        totals row and every distinct categorical value; the
        ``row_number() <= cap`` filter per tag is planned as a
        per-partition group limit before the shuffle, so at most
        ``1 + Σ cap`` rows reach the driver, whatever the cardinality."""
        cap = self.class_threshold + 1
        types = {f.name: f.dataType for f in self.input_data.schema.fields}
        v = [f"v{j}" for j in range(len(cats))]

        def tagged(k, value=None, totals=False):
            def field(name, expr, dtype, keep):
                return (expr if keep else F.lit(None)).cast(dtype).alias(name)

            return F.struct(
                F.lit(k).alias("k"),
                *[
                    field(name, F.col(c), types[c], c == value)
                    for c, name in zip(cats, v)
                ],
                *[
                    field(f"o{j}", F.col(c).isNotNull(), "long", totals)
                    for j, c in enumerate(cols)
                ],
                *[
                    field(f"x{j}", F.col(c).try_cast("double"), "double", totals)
                    for j, c in enumerate(conts)
                ],
            )

        structs = [tagged(-1, totals=True)] + [
            F.when(F.col(c).isNotNull(), tagged(i, value=c))
            for i, c in enumerate(cats)
        ]
        grouped = (
            self.input_data.select(F.explode(F.array(*structs)).alias("s"))
            .filter(F.col("s").isNotNull())
            .select("s.*")
            .groupBy("k", *v)
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(f"o{j}").alias(f"o{j}") for j in range(len(cols))],
                *[F.min(f"x{j}").alias(f"lo{j}") for j in range(len(conts))],
                *[F.max(f"x{j}").alias(f"hi{j}") for j in range(len(conts))],
            )
        )
        w = Window.partitionBy("k").orderBy(*(v or ["k"]))
        return grouped.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= cap
        )

    def _to_impute(self, profile: dict) -> list[str]:
        """Data columns with at least one missing cell, in column order."""
        return [
            c for c in self._data_cols()
            if profile["observed"][c] < profile["total"]
        ]

    # ------------------------------------------------------------------ C5
    def fit(
        self,
        classification,
        regression,
        transform: bool = False,
        test_size: float = 0.1,
        random_seed: int = 42,
        scaler=None,
        parallelism: int = 4,
    ) -> dict:
        """Train one model per column with missing values; optionally impute
        in the same pass (reference :178-304).

        ``classification``/``regression`` are MLlib estimators (anything
        with .fit returning a .transform-able model — the same duck-typed
        plug-in surface the reference exposes for sklearn estimators), or
        per-column maps ``{column_name: estimator, "*": default}`` when
        different targets warrant different models (extends the
        reference's one-estimator-for-all-columns surface, :241-245).
        ``scaler`` defaults to the pure-SQL min-max scaler; pass a callable
        ``(df, cols) -> df`` to substitute (like the default, it must pass
        the other columns through).

        Per-column models are INDEPENDENT (reference runs them in a
        sequential loop, :216); ``parallelism`` > 1 trains them from a
        driver thread pool so the many small Spark jobs overlap instead of
        serializing on scheduling latency. Results are deterministic.
        With ``transform=True`` every column's predictions are written back
        in one join; each column's ``impute_time`` is the time to build
        that shared write-back plan.
        """
        start_overall = time.time()
        spark = self.input_data.sparkSession

        profile = self._profile()
        to_impute = self._to_impute(profile)
        missing = _missing_flags(to_impute) if transform else {}
        all_features, ranges = self._features(profile, missing)
        feat_cols = [
            c for c in all_features.columns
            if c != self.id_col and c not in missing.values()
        ]
        if scaler is None:
            scaled = minmax_scale(all_features, feat_cols, ranges=ranges)
        else:
            scaled = scaler(all_features, feat_cols)
        # Eager materialization, not a lazy cache(): the per-column fits
        # run CONCURRENTLY from the thread pool below, and a lazy cache
        # fills per-partition with no cross-thread synchronization — all
        # columns' first jobs recompute the whole ffill/one-hot/scale
        # pipeline before any cache entry lands (the _loader_funnel_base
        # race, measured here as ~3x the feature-pass cost at bench SF).
        # At 100 TB this is the feature-matrix materialization every
        # production imputation run makes anyway; the checkpointed RDD is
        # released by ContextCleaner when the frame goes out of scope.
        with _job_phase(spark, "imputer:features"):
            features = scaled.localCheckpoint(eager=True)

        def train(column: str) -> dict:
            start_time = time.time()
            record = self._fit_one(
                column, features, feat_cols, classification, regression,
                test_size, random_seed, profile["domains"].get(column),
            )
            record["train_time"] = time.time() - start_time
            return record

        if parallelism > 1 and len(to_impute) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(parallelism, len(to_impute))
            ) as pool:
                futures = {c: pool.submit(train, c) for c in to_impute}
                trained_models = {c: f.result() for c, f in futures.items()}
        else:
            trained_models = {c: train(c) for c in to_impute}

        if transform:
            start_imp = time.time()
            imputed = self._write_back(
                features, trained_models, missing, profile
            )
            impute_time = time.time() - start_imp
            for column in to_impute:
                trained_models[column]["impute_time"] = impute_time

        trained_models["global_scaler"] = {"type": "minmax", "columns": feat_cols}

        if not transform:
            self._save_models(trained_models, feat_cols)

        if transform:
            trained_models["imputed_data"] = imputed

        trained_models["overall_time"] = time.time() - start_overall
        features.unpersist()
        return trained_models

    def _fit_one(
        self, column, features, feat_cols, classification, regression,
        test_size, random_seed, domain,
    ) -> dict:
        """Train + hold-out-score the model for one target column;
        ``domain`` is the profile's capped label domain when the target is
        categorical."""
        from pyspark.ml import Pipeline
        from pyspark.ml.feature import VectorAssembler

        is_cat = column in self.categorical
        spark = features.sparkSession
        # Leakage prune replicates the reference's SUBSTRING semantics
        # (reference :236 — drops the target, its one-hot/flag derivatives,
        # and any accidental substring match; SURVEY.md P8).
        model_features = [c for c in feat_cols if column not in c]

        target = self.input_data.select(
            F.col(self.id_col), F.col(column).alias("__target")
        )
        observed = target.filter(F.col("__target").isNotNull())

        if is_cat:
            # The features are gated by class_threshold at construction;
            # gate the TARGET's label domain the same way so a
            # high-cardinality target fails fast. The profile capped the
            # domain at class_threshold + 1, so within the gate it is exact.
            if len(domain) > self.class_threshold:
                raise ValueError(
                    f"categorical target '{column}' has more than "
                    f"{self.class_threshold} distinct values "
                    f"(class_threshold); raise class_threshold or drop the "
                    f"column"
                )
            labels = domain
            encoded, _ = label_encode(
                observed, "__target", labels=labels, out_col="label"
            )
            observed = encoded.select(self.id_col, "label")
        else:
            labels = None
            observed = observed.select(
                self.id_col, F.col("__target").cast("double").alias("label")
            )

        assembler = VectorAssembler(
            inputCols=model_features, outputCol="__vec", handleInvalid="keep"
        )
        spec = classification if is_cat else regression
        est = _resolve_estimator(spec, column).copy()
        est = est.setFeaturesCol("__vec").setLabelCol("label")
        if est.hasParam("seed"):
            est = est.setSeed(random_seed)
        # MLP usability: layers depend on the per-column feature count and
        # label arity, which only exist here — derive them when the caller
        # left ``layers`` unset (reference pair 'mlp', tests.py:225).
        if (
            is_cat
            and type(est).__name__ == "MultilayerPerceptronClassifier"
            and not est.isSet(est.layers)
        ):
            est.setLayers(
                [len(model_features), max(4, 2 * len(labels)), len(labels)]
            )

        with _job_phase(spark, f"imputer:fit:{column}"):
            train_keys, test_keys = split_exact(
                observed, test_size, random_seed, self.id_col
            )
            train = train_keys.join(features, on=self.id_col, how="inner")
            pipeline_model = Pipeline(stages=[assembler, est]).fit(train)

        start_test = time.time()
        test = test_keys.join(features, on=self.id_col, how="inner")
        preds = pipeline_model.transform(test)
        pred_col = F.col("prediction")
        if column in self.round_column:
            pred_col = F.bround(pred_col)  # np.round = half-to-even
        scored = preds.select(F.col("label"), pred_col.alias("prediction"))
        if is_cat:
            metric = "accuracy"
            perf = F.avg((F.col("prediction") == F.col("label")).cast("double"))
        else:
            metric = "mse"
            perf = F.avg(F.pow(F.col("prediction") - F.col("label"), 2))
        with _job_phase(spark, f"imputer:score:{column}"):
            model_performance = {metric: scored.agg(perf).collect()[0][0]}
        test_time = time.time() - start_test

        return {
            "trained_model": pipeline_model,
            "model_features": model_features,
            "label_encoder": labels,
            "test_time": test_time,
            "model_performance": model_performance,
        }

    def _write_back(
        self, features: DataFrame, models: dict, missing: dict,
        profile: dict,
    ) -> DataFrame:
        """Write every column's predictions into its missing cells with ONE
        left join against the base (reference :261-272 assigns per column).
        ``missing`` maps each column to its is-null flag in ``features``
        (``_features(missing=...)``), so each model scores only its own
        column's missing rows, as the reference does, with no join; the
        per-column predictions are merged by id into one update frame
        (union + groupBy). Coalesce keeps every observed cell.

        The planner cannot size the update frame (it sits on model UDFs
        over checkpointed RDDs) and would shuffle the whole base for a
        sort-merge join. The profile bounds it instead: at most Σ missing
        cells rows, so it is broadcast when that bound × row size fits
        ``spark.sql.autoBroadcastJoinThreshold``; else the planner's
        shuffle join runs."""
        base = self.input_data
        columns = list(missing)
        if not columns:
            return base
        spark = base.sparkSession
        types = dict(base.dtypes)
        name = {c: f"__pred_{i}" for i, c in enumerate(columns)}
        with _job_phase(spark, "imputer:writeback"):
            parts = []
            for column in columns:
                record = models[column]
                own = features.filter(F.col(missing[column]))
                pred = F.col("prediction")
                if column in self.round_column:
                    pred = F.bround(pred)
                preds = record["trained_model"].transform(own).select(
                    F.col(self.id_col), pred.alias("prediction")
                )
                if record["label_encoder"] is not None:
                    preds = label_decode(
                        preds, "prediction", record["label_encoder"]
                    )
                parts.append(
                    preds.select(
                        F.col(self.id_col),
                        *[
                            (
                                F.col("prediction")
                                if c == column
                                else F.lit(None)
                            ).cast(types[c]).alias(name[c])
                            for c in columns
                        ],
                    )
                )
            updates = reduce(DataFrame.union, parts)
            if len(parts) > 1:
                # An id holds at most one prediction per column.
                updates = updates.groupBy(self.id_col).agg(
                    *[F.max(n).alias(n) for n in name.values()]
                )
            missing = sum(profile["total"] - profile["observed"][c] for c in columns)
            # Spark's own per-row size estimate: 8 bytes of row overhead
            # plus each field's default size.
            row_bytes = 8 + updates._jdf.schema().defaultSize()
            threshold = (
                spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
            )
            if missing * row_bytes <= threshold:
                updates = F.broadcast(updates)
            joined = base.join(updates, on=self.id_col, how="left")
            return joined.select(
                *[
                    F.coalesce(F.col(c), F.col(name[c])).alias(c)
                    if c in name
                    else F.col(c)
                    for c in base.columns
                ]
            )

    def _save_models(self, trained_models: dict, feat_cols: list[str]) -> None:
        """MLlib writers + JSON manifest replace the joblib pickle
        (reference :297 / SURVEY.md S3)."""
        os.makedirs(self.save_models_to, exist_ok=True)
        manifest: dict = {"columns": [], "global_scaler": trained_models["global_scaler"]}
        for column, record in trained_models.items():
            if column in ("global_scaler", "overall_time", "imputed_data"):
                continue
            model_dir = os.path.join(self.save_models_to, f"model_{column}")
            record["trained_model"].write().overwrite().save(model_dir)
            manifest["columns"].append(column)
            manifest[column] = {
                "model_features": record["model_features"],
                "label_encoder": record["label_encoder"],
                "model_performance": record["model_performance"],
                "train_time": record.get("train_time"),
                "test_time": record.get("test_time"),
                "model_dir": model_dir,
            }
        with open(os.path.join(self.save_models_to, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2)

    def _load_models(self) -> dict:
        from pyspark.ml import PipelineModel

        with open(os.path.join(self.save_models_to, "manifest.json")) as f:
            manifest = json.load(f)
        out = {}
        for column in manifest["columns"]:
            rec = dict(manifest[column])
            rec["trained_model"] = PipelineModel.load(rec["model_dir"])
            out[column] = rec
        out["global_scaler"] = manifest["global_scaler"]
        return out

    # ------------------------------------------------------------------ C6
    def transform(self) -> dict:
        """Impute using saved models (reference :306-360). Replicates the
        reference's observable quirk of RE-FITTING the scaler on the current
        data (reference :323 — the persisted scaler's ranges are never
        reused), which here is simply scaling against current min/max.
        Every column is written back in one join; each column's entry in
        ``impute_times`` is the time to build that shared plan."""
        start_overall = time.time()
        trained = self._load_models()
        to_impute = [
            c for c in trained if c != "global_scaler"
            and c in self.input_data.columns
        ]

        profile = self._profile()
        missing = _missing_flags(to_impute)
        all_features, ranges = self._features(profile, missing)
        feat_cols = [
            c for c in all_features.columns
            if c != self.id_col and c not in missing.values()
        ]
        # Each model's assembler reads exactly its saved feature list
        # (reference :339-340, SURVEY.md P10). Every column's scoring frame
        # reads the features, so several columns share one eager
        # materialization (see ``fit``); a single column reads them once.
        features = minmax_scale(all_features, feat_cols, ranges=ranges)
        if len(to_impute) > 1:
            with _job_phase(self.input_data.sparkSession, "imputer:features"):
                features = features.localCheckpoint(eager=True)

        start = time.time()
        imputed = self._write_back(features, trained, missing, profile)
        impute_times = dict.fromkeys(to_impute, time.time() - start)
        return {
            "imputed_data": imputed,
            "impute_times": impute_times,
            "overall_time": time.time() - start_overall,
        }

    # ------------------------------------------------------------------ C7
    def multiple_impute(
        self,
        classification,
        regression,
        m: int = 5,
        base_seed: int = 42,
        **fit_kwargs,
    ) -> dict[str, DataFrame]:
        """The readme's multiple-imputation workflow (readme.md:18-23) as
        one call: m independent imputations with varied seeds (split and
        estimator randomness both derive from the seed), returned keyed
        ``imp_0..imp_{m-1}`` — feed directly to find_imputation_variance
        for the Rubin's-rule B term."""
        out: dict[str, DataFrame] = {}
        for i in range(m):
            res = self.fit(
                classification,
                regression,
                transform=True,
                random_seed=base_seed + i,
                **fit_kwargs,
            )
            out[f"imp_{i}"] = res["imputed_data"]
        return out

    def validate(self, validation_set: DataFrame) -> dict:
        """Score saved models against a validation set's OBSERVED values.

        Intended semantics of reference :362-425. Divergence (documented in
        the module docstring): the reference takes targets from
        self.input_data (:389), making validation_set decorative; here the
        validation_set provides both features and targets.
        """
        start_overall = time.time()
        trained = self._load_models()
        to_impute = [
            c for c in trained if c != "global_scaler"
            and c in validation_set.columns
        ]

        holdout = SparkImputer(
            validation_set,
            categorical=self.categorical,
            save_models_to=self.save_models_to,
            round_column=self.round_column,
            class_threshold=self.class_threshold,
            features=self.features,
            include_missing_flags=self.include_missing_flags,
            id_col=self.id_col,
        )
        all_features, ranges = holdout._features(holdout._profile())
        feat_cols = [c for c in all_features.columns if c != self.id_col]
        features = minmax_scale(all_features, feat_cols, ranges=ranges).cache()
        spark = validation_set.sparkSession

        output = {}
        for column in to_impute:
            start = time.time()
            record = trained[column]
            observed = validation_set.filter(F.col(column).isNotNull()).select(
                F.col(self.id_col), F.col(column).alias("__truth")
            )
            feats = features.select(self.id_col, *record["model_features"])
            rows = observed.join(feats, on=self.id_col, how="inner")
            preds = record["trained_model"].transform(rows)
            pred = F.col("prediction")
            if column in self.round_column:
                pred = F.bround(pred)
            preds = preds.select(self.id_col, "__truth", pred.alias("prediction"))
            if column in self.categorical:
                labels = record["label_encoder"]
                preds = label_decode(preds, "prediction", labels)
                metric = "accuracy"
                perf = F.avg(
                    (F.col("prediction") == F.col("__truth")).cast("double")
                )
            else:
                metric = "mse"
                perf = F.avg(
                    F.pow(F.col("prediction") - F.col("__truth").cast("double"), 2)
                )
            with _job_phase(spark, f"imputer:score:{column}"):
                model_performance = {metric: preds.agg(perf).collect()[0][0]}
            output[column] = {
                "model_performance": model_performance,
                "test_time": time.time() - start,
            }

        features.unpersist()
        return {"overall_time": time.time() - start_overall, "tests": output}

    # ------------------------------------------------------------------ C8
    def select_model(self, options: list[dict], path: str | None = None) -> DataFrame:
        """Simulation-study harness over candidate model pairs
        (reference :427-553): measure fit/transform/fit_transform wall time,
        model size, per-column mse/accuracy; rank every metric
        (pandas-average-rank semantics) and sum the performance ranks."""
        spark = self.input_data.sparkSession
        to_impute = self._to_impute(self._profile())
        mse_cols = [f"{c}_mse" for c in to_impute if c not in self.categorical]
        acc_cols = [f"{c}_accuracy" for c in to_impute if c in self.categorical]

        rows = []
        for option in options:
            model_name = str(
                {
                    "classification": _est_name(option["classification"]),
                    "regression": _est_name(option["regression"]),
                }
            )
            fit_time = transform_time = model_size = None
            if option.get("check_separate_fit_transform_time"):
                fitted = self.fit(
                    classification=option["classification"],
                    regression=option["regression"],
                )
                fit_time = fitted["overall_time"]
                transformed = self.transform()
                transform_time = transformed["overall_time"]
                model_size = _dir_size(self.save_models_to)

            ft = self.fit(
                classification=option["classification"],
                regression=option["regression"],
                transform=True,
            )
            row = {
                "model": model_name,
                "fit_function_time": fit_time,
                "user_rollout_time_transform": transform_time,
                "user_rollout_time_fit_transform": ft["overall_time"],
                "model_size": float(model_size) if model_size else None,
            }
            for c in to_impute:
                perf = ft[c]["model_performance"]
                if c in self.categorical:
                    row[f"{c}_accuracy"] = perf["accuracy"]
                else:
                    row[f"{c}_mse"] = perf["mse"]
            rows.append(row)

            if path is not None:
                _rows_to_df(spark, rows, mse_cols, acc_cols).toPandas().to_csv(
                    path, index=False
                )

        summary = _rows_to_df(spark, rows, mse_cols, acc_cols)
        summary = summary.withColumn(
            "time_saved_by_saved_model",
            F.col("user_rollout_time_fit_transform")
            - F.col("user_rollout_time_transform"),
        )
        for c in [
            "fit_function_time",
            "user_rollout_time_transform",
            "user_rollout_time_fit_transform",
        ] + mse_cols + ["model_size"]:
            summary = avg_rank(summary, c, ascending=True)
        for c in acc_cols:
            summary = avg_rank(summary, c, ascending=False)
        rank_cols = [f"{c}_rank" for c in mse_cols + acc_cols]
        total = None
        for c in rank_cols:
            term = F.coalesce(F.col(c), F.lit(0.0))
            total = term if total is None else total + term
        summary = summary.withColumn(
            "sum_of_performance_ranks", total if total is not None else F.lit(0.0)
        )
        if path is not None:
            summary.toPandas().to_csv(path, index=False)
        return summary

    # ------------------------------------------------------------------ util
    def _data_cols(self) -> list[str]:
        return [c for c in self.input_data.columns if c != self.id_col]

    def _feature_cols(self) -> list[str]:
        """The columns ``create_features`` reads: ``features``, or every
        data column when it is unset."""
        if self.features:
            return [c for c in self.features if c != self.id_col]
        return self._data_cols()


def _missing_flags(columns: list[str]) -> dict[str, str]:
    """Names of the is-null flags that ``_features`` carries for the
    write-back, one per column to impute."""
    return {c: f"__missing_{i}" for i, c in enumerate(columns)}


@contextmanager
def _job_phase(spark, name: str):
    """Tag the Spark jobs this thread submits with ``name`` (their
    ``spark.job.description`` in the UI and the event log), then restore
    the previous tag. Local properties are per thread, so thread-pool
    workers tag their own jobs."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", previous)


def _resolve_estimator(spec, column: str):
    """An estimator, or a per-column map ``{column: est, "*": default}``.

    The map form generalizes the reference's single classifier/regressor
    pair (reference :241-245) without changing the plug-in duck typing."""
    if isinstance(spec, dict):
        if column in spec:
            return spec[column]
        if "*" in spec:
            return spec["*"]
        raise KeyError(
            f"no estimator mapped for column '{column}' and no '*' default"
        )
    return spec


def _est_name(spec) -> str:
    if isinstance(spec, dict):
        return str({k: type(v).__name__ for k, v in spec.items()})
    return type(spec).__name__


def _dir_size(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _rows_to_df(spark, rows: list[dict], mse_cols, acc_cols) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    fields = [StructField("model", StringType(), True)] + [
        StructField(name, DoubleType(), True)
        for name in [
            "fit_function_time",
            "user_rollout_time_transform",
            "user_rollout_time_fit_transform",
        ]
        + mse_cols
        + acc_cols
        + ["model_size"]
    ]
    schema = StructType(fields)
    data = [
        tuple(r.get(f.name) for f in fields) for r in rows
    ]
    return spark.createDataFrame(data, schema)


# ---------------------------------------------------------------------- C9
def find_imputation_variance(
    dictionary_of_data_frames: dict[str, DataFrame],
    categorical: list[str],
    id_col: str = "id",
) -> DataFrame:
    """Between-imputation variance across m imputed datasets — the B term of
    Rubin's rule T = U + (1 + 1/m)B (reference :556-583, readme.md:18-23).

    Continuous variables contribute their per-dataset MEAN, categoricals
    their per-dataset Shannon ENTROPY; the output is the SAMPLE variance of
    those statistics per variable: (variable, imputation_variance).

    Spark shape: per-dataset stats are tiny one-row/short aggregates unioned
    long-form, then one groupBy — the reference's side-by-side concat (J4)
    is unnecessary.
    """
    from functools import reduce

    parts = []
    for name, df in dictionary_of_data_frames.items():
        cols = [c for c in df.columns if c != id_col]
        continuous = [c for c in cols if c not in categorical]
        if continuous:
            agg = df.agg(
                *[F.avg(F.col(c).cast("double")).alias(c) for c in continuous]
            )
            structs = [
                F.struct(F.lit(c).alias("variable"), F.col(c).alias("value"))
                for c in continuous
            ]
            parts.append(
                agg.select(F.explode(F.array(*structs)).alias("s")).select(
                    F.lit(name).alias("dataset"), "s.variable", "s.value"
                )
            )
        cats = [c for c in cols if c in categorical]
        if cats:
            ent = entropy_by_column(df, cats)
            parts.append(
                ent.select(
                    F.lit(name).alias("dataset"),
                    "variable",
                    F.col("entropy").alias("value"),
                )
            )
    long = reduce(DataFrame.unionByName, parts)
    return imputation_variance_long(long)
