"""Dependency-free MLP forecaster with the reference's training-loop
semantics (`core/model.py:228-316`): Adam, early stopping with patience,
gradient clipping, best-checkpoint restore -- in pure NumPy so the grouped
ML edge (applyInPandas) runs identically on clusters without torch.

This is the nonlinear counterpart to the closed-form ridge trainer in
ml/forecast.py; the torch LSTM/Transformer (reference `core/model.py:44-96`)
remains the import-gated heavy path. Seeded init -> deterministic."""

from __future__ import annotations

import numpy as np

CLIP_NORM = 1.0  # core/model.py:244 (clip_grad_norm_)


def _init(rng: np.random.Generator, lookback: int, hidden: int, horizon: int):
    s1 = np.sqrt(2.0 / lookback)
    s2 = np.sqrt(2.0 / hidden)
    return {
        "w1": rng.normal(0, s1, (lookback, hidden)),
        "b1": np.zeros(hidden),
        "w2": rng.normal(0, s2, (hidden, horizon)),
        "b2": np.zeros(horizon),
    }


def _forward(p, x):
    h = np.maximum(x @ p["w1"] + p["b1"], 0.0)
    return h, h @ p["w2"] + p["b2"]


def _grads(p, x, y):
    n = len(x)
    h, out = _forward(p, x)
    d_out = 2.0 * (out - y) / (n * y.shape[1])
    g = {
        "w2": h.T @ d_out,
        "b2": d_out.sum(0),
    }
    d_h = (d_out @ p["w2"].T) * (h > 0)
    g["w1"] = x.T @ d_h
    g["b1"] = d_h.sum(0)
    loss = float(((out - y) ** 2).mean())
    return g, loss


def _clip(g):
    total = np.sqrt(sum(float((v**2).sum()) for v in g.values()))
    if total > CLIP_NORM:
        scale = CLIP_NORM / (total + 1e-12)
        g = {k: v * scale for k, v in g.items()}
    return g


def train_mlp(
    x_train: np.ndarray,
    y_train: np.ndarray,
    x_val: np.ndarray | None = None,
    y_val: np.ndarray | None = None,
    hidden: int = 64,
    lr: float = 1e-3,
    epochs: int = 100,
    batch_size: int = 32,
    patience: int = 10,
    seed: int = 42,
) -> tuple[dict[str, np.ndarray], float]:
    """Adam + minibatches + early stopping (patience, best-weights restore)
    + grad clipping -- mirrors `core/kubeflow_pipeline.py:232-288`.
    Returns (best_params, best_val_loss)."""
    rng = np.random.default_rng(seed)
    p = _init(rng, x_train.shape[1], hidden, y_train.shape[1])
    m = {k: np.zeros_like(v) for k, v in p.items()}
    v = {k: np.zeros_like(vv) for k, vv in p.items()}
    b1, b2, eps = 0.9, 0.999, 1e-8
    step = 0
    if x_val is None or len(x_val) == 0:
        x_val, y_val = x_train, y_train
    best = {k: vv.copy() for k, vv in p.items()}
    best_loss = float("inf")
    bad_epochs = 0
    n = len(x_train)
    for _epoch in range(epochs):
        order = rng.permutation(n)
        for i in range(0, n, batch_size):
            idx = order[i : i + batch_size]
            g, _ = _grads(p, x_train[idx], y_train[idx])
            g = _clip(g)
            step += 1
            for k in p:
                m[k] = b1 * m[k] + (1 - b1) * g[k]
                v[k] = b2 * v[k] + (1 - b2) * g[k] ** 2
                mh = m[k] / (1 - b1**step)
                vh = v[k] / (1 - b2**step)
                p[k] = p[k] - lr * mh / (np.sqrt(vh) + eps)
        _, val_out = _forward(p, x_val)
        val_loss = float(((val_out - y_val) ** 2).mean())
        if val_loss < best_loss:  # best-checkpoint semantics
            best_loss = val_loss
            best = {k: vv.copy() for k, vv in p.items()}
            bad_epochs = 0
        else:
            bad_epochs += 1
            if bad_epochs >= patience:  # early stopping
                break
    return best, best_loss


def predict_mlp(params: dict[str, np.ndarray], x: np.ndarray) -> np.ndarray:
    _, out = _forward(params, x)
    return out


def flatten_params(p: dict[str, np.ndarray]) -> list[float]:
    return np.concatenate([p["w1"].ravel(), p["b1"], p["w2"].ravel(), p["b2"]]).tolist()


def unflatten_params(
    flat: np.ndarray, lookback: int, hidden: int, horizon: int
) -> dict[str, np.ndarray]:
    flat = np.asarray(flat)
    i = 0
    w1 = flat[i : i + lookback * hidden].reshape(lookback, hidden)
    i += lookback * hidden
    bias1 = flat[i : i + hidden]
    i += hidden
    w2 = flat[i : i + hidden * horizon].reshape(hidden, horizon)
    i += hidden * horizon
    bias2 = flat[i : i + horizon]
    return {"w1": w1, "b1": bias1, "w2": w2, "b2": bias2}
