"""Per-worker model state (north rule: weights broadcast once per executor).

The reference loads its detector/transformer weights once in the processer
constructor (process_ocr_torch.py:12-41). The Spark equivalent is a
per-Python-worker singleton: the first batch of the first task on each
worker process materializes the model, every later task reuses it — zero
per-batch cost, no re-broadcast per stage.

Two backends:

* **surrogate** (default, no weights): ``None`` from both getters —
  ``detect.detect_page`` renders the heatmaps from the layout record and
  ``decode`` uses its deterministic residue head.
* **real** (``weights_path`` given, or ``FINDTEXTCENTERNET_SPARK_WEIGHTS``
  set): ``operators/models.py`` — rasterize → 768px tiles → batched CNN
  forward with the reference's 10+100-channel output contract (NumPy),
  plus three per-modulus residue softmax heads for the decoder.

On a cluster the weights file ships via ``spark-submit --files`` (read
back with ``SparkFiles.get``) and the path is threaded through
``extract_documents(weights_path=...)`` — an explicit plan-time argument,
pickled into the kernel closures, so it reaches every Python worker
without relying on executor environment propagation.
"""

from __future__ import annotations

import functools
import os

WEIGHTS_ENV = "FINDTEXTCENTERNET_SPARK_WEIGHTS"


@functools.lru_cache(maxsize=4)
def get_detector_model(weights_path: str | None = None):
    """Resolved once per (worker process, weights path) — lru_cache at
    module scope = per-process singleton; Spark reuses workers across
    tasks. ``None`` selects the surrogate forward pass
    (detect.py:_surrogate_forward)."""
    path = weights_path or os.environ.get(WEIGHTS_ENV) or None
    if path:
        from .models import load_detector

        return load_detector(path)
    return None


@functools.lru_cache(maxsize=4)
def get_residue_heads(weights_path: str | None = None):
    """Decoder residue heads for ``mask_predict``; ``None`` selects the
    deterministic surrogate head (decode.py:_residue_head)."""
    path = weights_path or os.environ.get(WEIGHTS_ENV) or None
    if path:
        from .models import load_residue_heads

        return load_residue_heads(path)
    return None
