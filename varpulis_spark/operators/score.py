"""`.score(model: "x.onnx", inputs: [...], outputs: [...])` — per-event
model inference appended as columns.

Reference: ScoreConfig engine/types.rs:266-271; runtime/src/scoring.rs (ONNX
via ort). Spark lowering: an Arrow-batched pandas iterator (mapInPandas) so
the model is loaded ONCE per executor python worker and scored per batch —
the `predict_batch_udf` shape, never per-row dispatch.

Model resolution: `linear:<w0,w1,...,b>` is a deterministic inline model;
`.onnx` paths run through onnxruntime when installed, else through the
pure-numpy mini runtime (operators/onnx_mini.py — protobuf decode + dense
MLP ops), so real model artifacts score in both environments.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame


def _load_model(model: str):
    if model.startswith("linear:"):
        parts = [float(x) for x in model[len("linear:"):].split(",")]
        w, b = np.array(parts[:-1]), parts[-1]

        def predict(x: np.ndarray) -> np.ndarray:
            return x @ w + b

        return predict
    try:
        import onnxruntime  # noqa: F401
    except ImportError:
        # pure-numpy fallback: real .onnx files still run for the dense-op
        # subset (operators/onnx_mini.py); unsupported ops raise
        # NotImplementedError naming the op
        from varpulis_spark.operators.onnx_mini import load_model

        mini = load_model(model)
        in_name = mini.graph_inputs[0] if mini.graph_inputs else "x"

        def predict(x: np.ndarray) -> np.ndarray:
            return np.asarray(mini.run({in_name: x})[0]).reshape(len(x))

        return predict
    sess = onnxruntime.InferenceSession(model)

    def predict(x: np.ndarray) -> np.ndarray:
        input_name = sess.get_inputs()[0].name
        return sess.run(None, {input_name: x.astype(np.float32)})[0].reshape(len(x))

    return predict


def score(
    df: DataFrame,
    model: str,
    inputs: list[str],
    output: str = "score",
) -> DataFrame:
    """Append `output` = model(inputs...) per row, batch-inferred."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        predict = _load_model(model)  # once per worker
        for pdf in batches:
            x = pdf[inputs].to_numpy(dtype=np.float64)
            pdf = pdf.copy()
            pdf[output] = predict(x)
            yield pdf

    out_schema = ", ".join(f"{n} {t}" for n, t in df.dtypes) + f", {output} double"
    return df.mapInPandas(run, out_schema)


def _load_seq_model(model: str, runtime: str = "auto"):
    """Sequence model: (1, seq, features) -> any-shaped output; the LAST
    scalar of the flattened output is the window's score (for an
    attention stack that is the final position's last feature; for a
    pooled head it is the single pooled logit).

    `runtime`: "auto" (onnxruntime when installed, else mini) or "mini"
    (force the pure-numpy runtime). NOTE the two differ numerically:
    onnxruntime runs f32 kernels while onnx_mini computes in exact f64 —
    oracle-checked queries pin runtime="mini" so results are
    environment-independent (ADVICE r6)."""
    try:
        if runtime == "mini":
            raise ImportError  # force the deterministic f64 path
        import onnxruntime

        sess = onnxruntime.InferenceSession(model)

        def predict(x3: np.ndarray) -> float:
            name = sess.get_inputs()[0].name
            out = sess.run(None, {name: x3.astype(np.float32)})[0]
            return float(np.asarray(out).ravel()[-1])

        return predict
    except ImportError:
        from varpulis_spark.operators.onnx_mini import load_model

        mini = load_model(model)
        in_name = mini.graph_inputs[0] if mini.graph_inputs else "x"

        def predict(x3: np.ndarray) -> float:
            return float(np.asarray(mini.run({in_name: x3})[0]).ravel()[-1])

        return predict


def score_sequence(
    df: DataFrame,
    model: str,
    inputs: list[str],
    keys: list[str],
    ts_col: str = "ts",
    order_col: str | None = None,
    last_n: int = 16,
    output: str = "seq_score",
    runtime: str = "auto",
) -> DataFrame:
    """Sequence scoring: per key, the LAST `last_n` events (ts-ordered)
    form one (1, n, features) tensor scored by a sequence model (e.g. the
    attention blocks in onnx_mini) — one score row per key. The per-key
    slicing runs through the shared partition driver (hash co-location +
    one sort + numpy boundaries), so key count scales with the corpus
    while each model call stays a single small GEMM batch.

    Reference: scoring.rs runs per-event models; sequence scoring is the
    transformer-era extension (the model attends over the key's recent
    event window instead of one row)."""
    from varpulis_spark.operators.partition_driver import apply_per_key

    key_schema = ", ".join(f"{k} {t}" for k, t in df.dtypes if k in keys)
    schema = f"{key_schema}, n_events int, {output} double"
    out_cols = list(keys) + ["n_events", output]
    state: dict = {}

    def run(key_tuple, cols: dict) -> list:
        if "predict" not in state:
            state["predict"] = _load_seq_model(model, runtime)  # once per worker
        x = np.column_stack(
            [np.asarray(cols[c][-last_n:], dtype=np.float64) for c in inputs]
        )
        return [[*key_tuple, len(x), state["predict"](x[None, :, :])]]

    sort_cols = [ts_col] + ([order_col] if order_col else [])
    return apply_per_key(df, keys, run, schema, out_cols, sort_cols)
