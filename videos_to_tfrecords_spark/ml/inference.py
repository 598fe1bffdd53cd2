"""Batched model inference over embedding/tensor columns.

Reference parity — the ``Inception`` DoFn (reference preprocess.py:192-265):
- ``setup()`` builds the model once per worker (preprocess.py:203-215)
  → here: model factory invoked once per Python worker, before the Arrow
  batch loop of an iterator pandas UDF.
- ``process()`` buffers rows into batches and flushes at batch_size
  (preprocess.py:246-265) → here: Arrow batching
  (spark.sql.execution.arrow.maxRecordsPerBatch) does this natively.
- ``finish_bundle()`` drains partial batches (preprocess.py:217-227)
  → here: the iterator simply ends; nothing to drain by construction.
- ``make_predictions()`` stacks inputs and calls predict_on_batch
  (preprocess.py:229-244) → here: np.stack + a single vectorized call per
  Arrow batch.

The model is pluggable: any ``factory() -> (np.ndarray[B,D] -> np.ndarray[B,K])``.
Production would load TF-Hub/torch weights in the factory (executor-side,
once); tests and the stub use a deterministic linear projection so results
are reproducible without model downloads. The reference's shape-homogeneous
batching concern (preprocess.py:250-253) disappears for fixed-width
embeddings; for images, group by shape before this op (SURVEY §4).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ModelFactory = Callable[[], Callable[[np.ndarray], np.ndarray]]

#: per-Python-worker model cache (each executor worker process holds its
#: own copy — the DoFn.setup() once-per-worker semantics)
_WORKER_MODEL_CACHE: dict = {}


def linear_stub_model(in_dim: int = 64, out_dim: int = 8, seed: int = 7) -> ModelFactory:
    """Deterministic stand-in for InceptionV3 (2048-d feature extractor,
    reference preprocess.py:203-215): a fixed random linear map + relu."""

    def factory() -> Callable[[np.ndarray], np.ndarray]:
        rng = np.random.RandomState(seed)
        w = rng.uniform(-1.0, 1.0, size=(in_dim, out_dim)).astype(np.float64)

        def predict(batch: np.ndarray) -> np.ndarray:
            return np.maximum(batch @ w, 0.0)

        return predict

    return factory


def adaptive_stub_model(out_dim: int = 8, seed: int = 7) -> ModelFactory:
    """Shape-adaptive stand-in for models that accept any input width
    (what a resize-free image tower would be): the weight matrix is
    derived deterministically from (input width, seed) the first time a
    width appears, then cached per worker. Pairs with
    :func:`batch_inference_by_shape`, whose groups guarantee each call
    sees ONE width — mixed-resolution corpora get reproducible
    per-resolution projections."""

    def factory() -> Callable[[np.ndarray], np.ndarray]:
        cache: dict[int, np.ndarray] = {}

        def predict(batch: np.ndarray) -> np.ndarray:
            d = batch.shape[1]
            w = cache.get(d)
            if w is None:
                rng = np.random.RandomState(seed + d)
                w = cache[d] = rng.uniform(-1.0, 1.0, size=(d, out_dim)).astype(
                    np.float64
                )
            return np.maximum(batch @ w, 0.0)

        return predict

    return factory


def batch_inference(
    df: DataFrame,
    input_col: str,
    model_factory: ModelFactory,
    output_col: str = "logits",
    drop_input: bool = True,
) -> DataFrame:
    """Vectorized inference via an iterator pandas UDF: model built once per
    worker, applied per Arrow batch. ``drop_input`` mirrors the reference's
    `del element["image"]` (preprocess.py:241) — never shuffle the wide
    input downstream of inference."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def infer(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        model = model_factory()  # per-worker init ≡ DoFn.setup()
        for series in batches:
            stacked = np.stack(series.to_numpy())  # ≡ np.concatenate (preprocess.py:233)
            out = model(stacked)  # ≡ predict_on_batch (preprocess.py:234)
            yield pd.Series([row.astype(np.float32).tolist() for row in out])

    out = df.withColumn(output_col, infer(F.col(input_col)))
    return out.drop(input_col) if drop_input else out


def batch_inference_by_shape(
    df: DataFrame,
    input_col: str,
    shape_cols: Sequence[str],
    model_factory: ModelFactory,
    output_col: str = "logits",
    drop_input: bool = True,
    model_cache_key: str | None = None,
) -> DataFrame:
    """Shape-homogeneous batched inference — the reference's batching is
    keyed by (dataset, image.shape) precisely so ``np.concatenate`` never
    sees ragged inputs (preprocess.py:246-253 buffers per key; 229-244
    stacks a buffer). For variable-shape image frames the same guarantee
    comes from grouping on the shape columns: each ``applyInPandas`` task
    receives ONE (shape...) group, so the stack is rectangular by
    construction. Fixed-width embeddings don't need this (use
    :func:`batch_inference`); mixed-shape frames DO — a plain Arrow batch
    may interleave shapes and ``np.stack`` raises.

    Shuffle cost: one exchange on the shape key (tiny fan-out — shapes are
    few). Pass ``model_cache_key`` to reuse the built model across groups
    and tasks within each Python worker process (the ``setup()``-once
    semantics of the reference's DoFn) instead of rebuilding per group."""
    shape_keys = list(shape_cols)
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if not (drop_input and f.name == input_col)
    )
    schema = f"{out_fields}, {output_col} array<float>"

    def infer_group(pdf: pd.DataFrame) -> pd.DataFrame:
        if model_cache_key is not None:
            model = _WORKER_MODEL_CACHE.get(model_cache_key)
            if model is None:
                model = _WORKER_MODEL_CACHE[model_cache_key] = model_factory()
        else:
            model = model_factory()
        stacked = np.stack(pdf[input_col].to_numpy())  # rectangular: one shape per group
        out = model(stacked)
        res = pdf.drop(columns=[input_col]) if drop_input else pdf
        res = res.copy()
        res[output_col] = [row.astype(np.float32).tolist() for row in out]
        return res

    return df.groupBy(*shape_keys).applyInPandas(infer_group, schema)


def int_hash_linear_model(out_dim: int = 8, salt: str = "w") -> ModelFactory:
    """Linear+relu stub whose weights are EXACT integers derived from the
    engine's portable md5 hash — w[i][j] = (md5_60bit("w:i:j") % 201) − 100
    (``salt`` swaps the hash family — an independent model "version"
    for shadow/A-B comparisons) — and whose inputs are quantized to
    rint(1000·x). Every logit is then
    an exact small integer (|logit| ≤ dims·1000·100 < 2²⁴, so even the
    float32 Arrow column holds it exactly), which makes the whole
    inference pass — the same iterator-pandas-UDF path as the float
    models — reproducible bit-for-bit in a SQL oracle. The float-weight
    :func:`linear_stub_model` stays as the realistic-model twin covered by
    numeric-golden tests."""
    import hashlib

    def factory() -> Callable[[np.ndarray], np.ndarray]:
        cache: dict[int, np.ndarray] = {}

        def weights(d: int) -> np.ndarray:
            w = cache.get(d)
            if w is None:
                w = np.empty((d, out_dim), dtype=np.int64)
                for i in range(d):
                    for j in range(out_dim):
                        h = int(
                            hashlib.md5(f"{salt}:{i}:{j}".encode()).hexdigest()[:15], 16
                        )
                        w[i, j] = h % 201 - 100
                cache[d] = w
            return w

        def predict(batch: np.ndarray) -> np.ndarray:
            xq = np.rint(batch.astype(np.float64) * 1000).astype(np.int64)
            return np.maximum(xq @ weights(batch.shape[1]), 0).astype(np.float64)

        return predict

    return factory


def keras_model_factory(
    model_url_or_path: str,
    input_hw: tuple[int, int] = (299, 299),
    preprocess: str = "inception",
) -> ModelFactory:
    """REAL-model factory — the production swap-in for the stubs above,
    wiring the reference's actual InceptionV3 path (preprocess.py:203-215
    loads TF-Hub ``imagenet/inception_v3/feature_vector``) through the
    same iterator-pandas-UDF plumbing: pass this to
    :func:`batch_inference` and each Python worker loads the model ONCE
    (DoFn.setup() semantics), then every Arrow batch is one vectorized
    ``predict_on_batch``.

    Import-gated: TensorFlow/Keras is not in this container (no network,
    no TF-Hub), so construction raises ImportError with the exact
    production recipe — the factory body is real, not pseudocode, and a
    skipif pytest exercises it where TF exists.

    ``model_url_or_path`` accepts a TF-Hub URL (hub.KerasLayer) or a local
    SavedModel/keras path; batches arrive as (B, H·W·C) float rows from
    decode_videos and are reshaped executor-side."""

    def factory() -> Callable[[np.ndarray], np.ndarray]:
        try:
            import tensorflow as tf  # noqa: F401
        except ImportError as e:  # pragma: no cover - env without TF
            raise ImportError(
                "keras_model_factory needs tensorflow (+ tensorflow_hub for "
                "hub URLs): pip install tensorflow tensorflow-hub; then "
                "batch_inference(frames, 'image', "
                "keras_model_factory('https://tfhub.dev/google/imagenet/"
                "inception_v3/feature_vector/5'))"
            ) from e
        import tensorflow as tf

        if model_url_or_path.startswith(("http://", "https://")):
            import tensorflow_hub as hub

            layer = hub.KerasLayer(model_url_or_path)
            model = tf.keras.Sequential([layer])
        else:
            model = tf.keras.models.load_model(model_url_or_path)
        h, w = input_hw

        def predict(batch: np.ndarray) -> np.ndarray:
            x = batch.astype(np.float32).reshape(len(batch), h, w, -1)
            if preprocess == "inception":  # [0,1] -> [-1,1]
                x = x * 2.0 - 1.0
            return np.asarray(model(x))

        return predict

    return factory


def torch_model_factory(
    checkpoint_path: str, device: str = "cpu"
) -> ModelFactory:
    """Torch twin of :func:`keras_model_factory` (same swap-in contract):
    loads a TorchScript module once per worker, runs each Arrow batch
    under ``inference_mode``. Import-gated like the Keras path."""

    def factory() -> Callable[[np.ndarray], np.ndarray]:
        try:
            import torch
        except ImportError as e:  # pragma: no cover - env without torch
            raise ImportError(
                "torch_model_factory needs torch: pip install torch; then "
                "batch_inference(df, col, torch_model_factory('model.pt'))"
            ) from e
        model = torch.jit.load(checkpoint_path, map_location=device).eval()

        def predict(batch: np.ndarray) -> np.ndarray:
            with torch.inference_mode():
                t = torch.from_numpy(np.ascontiguousarray(batch)).to(device)
                return model(t).cpu().numpy()

        return predict

    return factory
