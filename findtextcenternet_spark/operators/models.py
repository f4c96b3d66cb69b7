"""Real-model path behind the model registry (SURVEY.md §2 S1/P3; the
plug point VERDICT r2 flagged as never exercised).

Mirrors the reference's tensor contract exactly:

* detector — ``forward_tiles(tiles (B,768,768,3) uint8) ->
  (heatmap (B,10,192,192) float32, features (B,100,192,192) float16)``
  with heatmap channels ``[keymap, peakmap(3x3-NMS'd keymap), size_x,
  size_y, textline, separator, code1, code2, code4, code8]`` — the
  ``CenterNetDetector`` output (models/detector.py:217-230,
  test_image3_torch.py CenterNetDetector.forward: keymap + detectedkey +
  rest, features); features are fp16 like the reference's transport
  (test_image3_torch.py:397).
* decoder — three per-modulus softmax heads over the 106-d encoder token
  (models/transformer.py:274-360), returning top-3 residue candidates and
  probabilities per modulus, the exact surface ``mask_predict`` consumes.

The sandbox ships no trained weights, so the architectures here are tiny
(4x average-pool + two 1x1 convolutions; linear residue heads) — enough
to exercise every real-path shape: pixel rasterization, 768-px tiling,
batched forward, interior-mask merge, fp16 feature transport, image-based
P6 contrast, map-derived line/separator runs, and top-3 residue decode.
NumPy runs the forward; a real deployment swaps the forward bodies for
the trained EfficientNetV2/transformer (on any backend) and nothing
upstream changes.
"""

from __future__ import annotations

import math

import numpy as np

from ..config import FEATURE_DIM, HM, MODULOS, SCALE, STRIDE
from .detect import maxpool3x3

TILE_PX = HM * SCALE          # 768
ENCODER_DIM = FEATURE_DIM + 6  # 106
# raw CenterNet maps, exactly the reference's output list
# (models/detector.py:289-296); the peak wrap below adds the 3x3-NMS'd
# keymap channel, making the transported heatmap N_MAPS + 1 = 10 channels
RAW_MAPS = ("keymap", "size_x", "size_y", "textline", "separator",
            "code1", "code2", "code4", "code8")
N_MAPS = len(RAW_MAPS)         # 9
HIDDEN = 16


# ---------------------------------------------------------------- weights

def save_tiny_random_weights(path: str, seed: int = 0) -> None:
    """Random weights with the real tensor shapes (test fixture; a trained
    checkpoint converted to these arrays would drop in unchanged)."""
    rng = np.random.default_rng(seed)
    arrs = {
        "conv1_w": rng.normal(0, 0.5, (HIDDEN, 3)).astype(np.float32),
        "conv1_b": rng.normal(0, 0.1, HIDDEN).astype(np.float32),
        "conv2_w": rng.normal(0, 0.3, (N_MAPS + FEATURE_DIM,
                                       HIDDEN)).astype(np.float32),
        "conv2_b": rng.normal(0, 0.1, N_MAPS + FEATURE_DIM
                              ).astype(np.float32),
    }
    # keep random-weight key/line/sep logits mostly below threshold so an
    # untrained checkpoint yields a handful of peaks, not 36k per tile
    arrs["conv2_b"][0] = -6.0
    arrs["conv2_b"][3] = -4.0
    arrs["conv2_b"][4] = -4.0
    for mi, m in enumerate(MODULOS):
        arrs[f"head_w_{mi}"] = rng.normal(
            0, 0.2, (ENCODER_DIM, m)).astype(np.float32)
        arrs[f"head_b_{mi}"] = rng.normal(0, 0.05, m).astype(np.float32)
    np.savez(path, **arrs)


# ---------------------------------------------------------------- detector

class NumpyDetector:
    """Tiny CNN with the CenterNetDetector output contract, NumPy forward:
    4x average-pool (768->192) then two 1x1 convolutions — pure matmul,
    runs anywhere."""

    kind = "real-numpy"

    def __init__(self, npz) -> None:
        self.w1 = npz["conv1_w"]
        self.b1 = npz["conv1_b"]
        self.w2 = npz["conv2_w"]
        self.b2 = npz["conv2_b"]

    def forward_tiles(self, tiles: np.ndarray
                      ) -> tuple[np.ndarray, np.ndarray]:
        b = tiles.shape[0]
        x = tiles.astype(np.float32) / 255.0
        x = x * 2.0 - 1.0  # reference input scaling (detector.py:218)
        x = x.reshape(b, HM, SCALE, HM, SCALE, 3).mean(axis=(2, 4))
        h = np.maximum(x @ self.w1.T + self.b1, 0.0)
        y = h @ self.w2.T + self.b2  # (B, HM, HM, N_MAPS + FEATURE_DIM)
        maps = np.ascontiguousarray(y[..., :N_MAPS].transpose(0, 3, 1, 2))
        feats = np.ascontiguousarray(
            y[..., N_MAPS:].transpose(0, 3, 1, 2)).astype(np.float16)
        key = maps[:, 0:1]
        peak = maxpool3x3(key)
        detected = np.where(key < peak, np.float32(-np.inf), key)
        heat = np.concatenate([key, detected, maps[:, 1:]], axis=1)
        return heat.astype(np.float32), feats


# ---------------------------------------------------------------- decoder

class NumpyResidueHeads:
    """Three linear softmax heads over the 106-d encoder token
    (models/transformer.py:274-360): top-3 residues + probabilities per
    modulus — the exact surface mask_predict consumes. Tokens pass
    through fp16 first, mirroring the reference's feature transport
    (test_image3_torch.py:397)."""

    kind = "real-numpy"

    def __init__(self, npz) -> None:
        self.w = [npz[f"head_w_{mi}"] for mi in range(len(MODULOS))]
        self.b = [npz[f"head_b_{mi}"] for mi in range(len(MODULOS))]

    def __call__(self, tokens: np.ndarray, masked: np.ndarray, rnd: int
                 ) -> tuple[np.ndarray, np.ndarray]:
        x = tokens.astype(np.float16).astype(np.float32)
        n = x.shape[0]
        ids = np.zeros((n, len(MODULOS), 3), dtype=np.int64)
        probs = np.zeros((n, len(MODULOS), 3), dtype=np.float64)
        for mi in range(len(MODULOS)):
            logits = x @ self.w[mi] + self.b[mi]
            logits -= logits.max(axis=1, keepdims=True)
            p = np.exp(logits)
            p /= p.sum(axis=1, keepdims=True)
            top = np.argsort(-p, axis=1)[:, :3]
            ids[:, mi] = top
            probs[:, mi] = np.take_along_axis(p, top, axis=1)
        return ids, probs


# ---------------------------------------------------------------- loading

def load_detector(weights_path: str):
    npz = np.load(weights_path)
    got = npz["conv2_w"].shape[0]
    if got != N_MAPS + FEATURE_DIM:
        raise ValueError(
            f"detector checkpoint emits {got} channels; expected "
            f"{N_MAPS} maps ({', '.join(RAW_MAPS)}) + {FEATURE_DIM} "
            "features — a checkpoint converted at different shapes would "
            "silently shift every feature channel")
    return NumpyDetector(npz)


def load_residue_heads(weights_path: str) -> NumpyResidueHeads:
    return NumpyResidueHeads(np.load(weights_path))


# ---------------------------------------------------------------- raster

def rasterize_layout(layout: dict) -> np.ndarray:
    """Deterministic pixel rendering of a layout record — the real-model
    path consumes IMAGES (process_ocr_base.py:58-65); fixtures carry
    layout JSON, so the raster is reconstructed here. White page, glyph
    rectangles shaded by codepoint, separator strokes near-black."""
    h, w = int(layout["page_h"]), int(layout["page_w"])
    img = np.full((h, w), 255, dtype=np.uint8)
    for g in layout["glyphs"]:
        x1 = max(0, int(g["cx"] - g["w"] / 2))
        x2 = min(w, int(g["cx"] + g["w"] / 2) + 1)
        y1 = max(0, int(g["cy"] - g["h"] / 2))
        y2 = min(h, int(g["cy"] + g["h"] / 2) + 1)
        img[y1:y2, x1:x2] = 32 + int(g.get("cp", 0)) % 160
    for sp in layout.get("seps", []):
        x1 = max(0, int(min(sp["x1"], sp["x2"])))
        x2 = min(w, int(max(sp["x1"], sp["x2"])) + 1)
        y1 = max(0, int(min(sp["y1"], sp["y2"])))
        y2 = min(h, int(max(sp["y1"], sp["y2"])) + 1)
        img[y1:y2, x1:x2] = 8
    return np.repeat(img[:, :, None], 3, axis=2)


def pad_to_tile_grid(img: np.ndarray) -> np.ndarray:
    """S2 white pad so 768-px tiles cover the page
    (process_ocr_base.py:63-65)."""
    h, w = img.shape[:2]
    ph = max(TILE_PX, int(math.ceil(h / STRIDE)) * STRIDE + (TILE_PX - STRIDE))
    pw = max(TILE_PX, int(math.ceil(w / STRIDE)) * STRIDE + (TILE_PX - STRIDE))
    if ph == h and pw == w:
        return img
    out = np.full((ph, pw, 3), 255, dtype=img.dtype)
    out[:h, :w] = img
    return out
