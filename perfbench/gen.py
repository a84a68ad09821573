"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, and the library under test only ever sees those
files.  The EDF writer here is the benchmark's own (a minimal EDF+
encoder), so the inputs do not depend on the code being measured.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------------ EEG
EEG_FS = 500.0          # recording rate (Hz)
EEG_CHANNELS = 4
EEG_SECONDS = 16        # per recording; one EDF record per second
EEG_RECORDINGS = 2
LIVE_FILES = 2          # the first recording, replayed as a file stream
PHYS_RANGE = (-1000.0, 1000.0)  # microvolts
DIG_RANGE = (-32768, 32767)
LINE_HZ = 60.0


@dataclass(frozen=True)
class EegTruth:
    """What the generator planted, for the output checks."""

    rhythm_hz: dict[str, float]          # recording -> theta frequency
    artifacts: dict[str, list[tuple[float, float]]]  # recording -> (start s, dur s)


def quantize(x: np.ndarray) -> np.ndarray:
    """Physical -> int16 digital, the same linear map EDF readers invert."""
    pmin, pmax = PHYS_RANGE
    dmin, dmax = DIG_RANGE
    d = np.round((x - pmin) * (dmax - dmin) / (pmax - pmin) + dmin)
    return np.clip(d, dmin, dmax).astype(np.int16)


def dequantize(d: np.ndarray) -> np.ndarray:
    pmin, pmax = PHYS_RANGE
    dmin, dmax = DIG_RANGE
    return (d.astype(np.float64) - dmin) * (pmax - pmin) / (dmax - dmin) + pmin


def quant_step() -> float:
    return (PHYS_RANGE[1] - PHYS_RANGE[0]) / (DIG_RANGE[1] - DIG_RANGE[0])


def _field(s: str, n: int) -> bytes:
    return s.encode("ascii")[:n].ljust(n, b" ")


def write_edf(path: str, digital: np.ndarray, fs: float) -> None:
    """Write (channels, samples) int16 data as EDF with 1 s records."""
    ns, n = digital.shape
    spr = int(fs)
    nrec = n // spr
    hdr = b"".join(
        [
            _field("0", 8),
            _field("X X X X", 80),
            _field("Startdate 01-JAN-2020 X X X", 80),
            _field("01.01.20", 8),
            _field("00.00.00", 8),
            _field(str(256 * (ns + 1)), 8),
            _field("", 44),
            _field(str(nrec), 8),
            _field("1", 8),
            _field(str(ns), 4),
        ]
    )
    per = [
        [_field(f"EEG{c}", 16) for c in range(ns)],
        [_field("AgAgCl electrode", 80)] * ns,
        [_field("uV", 8)] * ns,
        [_field(f"{PHYS_RANGE[0]:g}", 8)] * ns,
        [_field(f"{PHYS_RANGE[1]:g}", 8)] * ns,
        [_field(str(DIG_RANGE[0]), 8)] * ns,
        [_field(str(DIG_RANGE[1]), 8)] * ns,
        [_field("", 80)] * ns,
        [_field(str(spr), 8)] * ns,
        [_field("", 32)] * ns,
    ]
    hdr += b"".join(b"".join(col) for col in per)
    body = (
        digital[:, : nrec * spr]
        .reshape(ns, nrec, spr)
        .transpose(1, 0, 2)
        .astype("<i2")
        .tobytes()
    )
    with open(path, "wb") as f:
        f.write(hdr)
        f.write(body)


def read_edf(path: str) -> tuple[np.ndarray, float]:
    """Decode an EDF file to (channels, samples) physical values and fs."""
    with open(path, "rb") as f:
        raw = f.read()
    ns = int(raw[252:256])
    nrec = int(raw[236:244])
    dur = float(raw[244:252])
    off = 256

    def col(width):
        nonlocal off
        vals = [raw[off + i * width : off + (i + 1) * width].decode().strip() for i in range(ns)]
        off += width * ns
        return vals

    col(16), col(80), col(8)
    pmin = np.array(col(8), float)
    pmax = np.array(col(8), float)
    dmin = np.array(col(8), float)
    dmax = np.array(col(8), float)
    col(80)
    spr = [int(s) for s in col(8)]
    if len(set(spr)) != 1:
        raise ValueError("benchmark EDF reader expects one rate")
    d = np.frombuffer(raw[256 * (ns + 1):], dtype="<i2")[: nrec * ns * spr[0]]
    d = d.reshape(nrec, ns, spr[0]).transpose(1, 0, 2).reshape(ns, -1)
    gain = (pmax - pmin) / (dmax - dmin)
    x = (d.astype(np.float64) - dmin[:, None]) * gain[:, None] + pmin[:, None]
    return x, spr[0] / dur


def eeg_channel(rng: np.random.Generator, n: int, fs: float, theta: float) -> np.ndarray:
    """Theta rhythm + theta-phase-coupled gamma (PAC) + 60 Hz line noise
    + Gaussian noise, in microvolts."""
    t = np.arange(n) / fs
    ph = 2 * np.pi * theta * t + rng.uniform(0, 2 * np.pi)
    gamma = 12.0 * (1.0 + np.cos(ph)) * np.sin(2 * np.pi * 40.0 * t + rng.uniform(0, 6.28))
    line = 25.0 * np.sin(2 * np.pi * LINE_HZ * t + rng.uniform(0, 6.28))
    return 60.0 * np.sin(ph) + gamma + line + rng.normal(0.0, 6.0, n)


def gen_eeg_batch(
    seed: int, out: str, seconds: int = EEG_SECONDS, recordings: int = EEG_RECORDINGS
) -> tuple[tuple[list[str], str, str], EegTruth]:
    """Write ``recordings`` EDF files, an annotations parquet file, and the
    first recording as LIVE_FILES consecutive micro-batch parquet files
    (the values an EDF-fed monitor would see).  Returns ((EDF paths,
    annotations path, live directory), truth)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = int(EEG_FS * seconds)
    paths, rhythm, artifacts, ann_rows = [], {}, {}, []
    for r in range(recordings):
        rid = f"rec{r}.edf"
        theta = float(np.round(rng.uniform(5.0, 9.0), 2))
        x = np.stack([eeg_channel(rng, n, EEG_FS, theta) for _ in range(EEG_CHANNELS)])
        # three artifact intervals with large spikes, annotated for removal
        starts = np.sort(rng.choice(np.arange(2, seconds - 4, seconds // 8), 3, replace=False))
        ivals = []
        for s in starts:
            start = float(s) + float(np.round(rng.uniform(0, 2), 2))
            dur = float(np.round(rng.uniform(0.5, 2.0), 2))
            a, b = int(round(start * EEG_FS)), int(round((start + dur) * EEG_FS))
            x[:, a:b] += rng.choice([-1.0, 1.0], (EEG_CHANNELS, 1)) * 400.0
            ivals.append((start, dur))
            ann_rows.append((rid, "artifact", start, dur))
        path = os.path.join(out, rid)
        write_edf(path, quantize(x), EEG_FS)
        paths.append(path)
        if r == 0:
            live_dir = write_live(dequantize(quantize(x)), os.path.join(out, "live"))
        rhythm[rid] = theta
        artifacts[rid] = ivals
    ann_path = os.path.join(out, "annotations.parquet")
    rid_col, label, tcol, dcol = zip(*ann_rows)
    pq.write_table(
        pa.table(
            {
                "recording_id": list(rid_col),
                "label": list(label),
                "time": list(tcol),
                "duration": list(dcol),
            }
        ),
        ann_path,
    )
    return (paths, ann_path, live_dir), EegTruth(rhythm, artifacts)


def write_live(x: np.ndarray, out: str) -> str:
    """(channels, samples) -> LIVE_FILES parquet files of consecutive t."""
    os.makedirs(out, exist_ok=True)
    ns, n = x.shape
    rows = n // LIVE_FILES
    ch = np.repeat(np.arange(ns, dtype=np.int32), rows)
    for i in range(LIVE_FILES):
        t = np.arange(i * rows, (i + 1) * rows, dtype=np.int64)
        tbl = pa.table(
            {
                "recording_id": pa.array(["live0"] * len(ch), pa.string()),
                "channel": pa.array(ch),
                "t": pa.array(np.tile(t, ns)),
                "v": pa.array(x[:, t].ravel()),
            }
        )
        pq.write_table(tbl, os.path.join(out, f"batch_{i:05d}.parquet"))
    return out


# --------------------------------------------------------------- corpus
CORPUS_ORIGINALS = 300
EMB_DIM = 48
STOP = ("the", "and", "of", "to", "in", "is", "that", "for", "with", "as")


@dataclass(frozen=True)
class CorpusTruth:
    originals: frozenset      # unique, good-quality docs: must all survive
    junk: frozenset           # unique, low-quality docs: quality_filter drops them
    exact: frozenset          # planted exact duplicates: none may survive
    near: frozenset           # planted near duplicates (high Jaccard)
    semantic: frozenset       # planted semantic duplicates (high cosine)


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(4, 10))
        words.add("".join(rng.choice(letters, k)))
    return np.array(sorted(words))


def _doc(rng: np.random.Generator, vocab: np.ndarray, n_words: int) -> list[str]:
    w = vocab[rng.integers(0, len(vocab), n_words)].astype(object)
    stop = rng.random(n_words) < 0.3
    w[stop] = np.array(STOP, dtype=object)[rng.integers(0, len(STOP), int(stop.sum()))]
    return list(w)


def _text(words: list[str]) -> str:
    out = []
    for i in range(0, len(words), 12):
        out.append(" ".join(words[i : i + 12]) + ".")
    return " ".join(out)


def gen_corpus(seed: int, out: str, originals: int = CORPUS_ORIGINALS) -> tuple[str, CorpusTruth]:
    """Corpus with planted exact, near and semantic duplicates and a few
    low-quality documents.  Originals take the smallest ids, so every
    dedup stage keeps the original of each planted group."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 3000)
    n_orig = originals
    words = [_doc(rng, vocab, int(rng.integers(90, 130))) for _ in range(n_orig)]
    emb = rng.normal(size=(n_orig, EMB_DIM))
    texts = [_text(w) for w in words]
    ids = list(range(n_orig))
    embs = list(emb)
    groups = {"junk": [], "exact": [], "near": [], "semantic": []}

    def add(kind, text, vec):
        groups[kind].append(len(texts))
        ids.append(len(texts))
        texts.append(text)
        embs.append(vec)

    n_dup = n_orig // 10
    src = rng.permutation(n_orig)
    for i in src[:n_dup]:  # exact: case and whitespace changes only
        add("exact", "  " + texts[i].upper().replace(" ", "   ") + " ", emb[i])
    for i in src[n_dup : 2 * n_dup]:  # near: two word substitutions
        w = list(words[i])
        for j in rng.choice(len(w), 2, replace=False):
            w[j] = str(vocab[rng.integers(0, len(vocab))])
        add("near", _text(w), emb[i] + rng.normal(0, 0.02, EMB_DIM))
    for i in src[2 * n_dup : 2 * n_dup + n_dup // 2]:  # semantic: new words, same meaning
        add(
            "semantic",
            _text(_doc(rng, vocab, int(rng.integers(90, 130)))),
            emb[i] + rng.normal(0, 0.05, EMB_DIM),
        )
    for k in range(n_orig // 40):  # junk: repetitive, PII-heavy, or stopword-free
        kind = k % 3
        if kind == 0:
            base = _doc(rng, vocab, 5)
            text = _text(base * 24)
        elif kind == 1:
            text = _text(_doc(rng, vocab, 100)) + " " + " ".join(
                f"user{int(rng.integers(1e6))}@mail{j}.com" for j in range(4)
            )
        else:
            text = " ".join(vocab[rng.integers(0, len(vocab), 40)])
        add("junk", text, rng.normal(size=EMB_DIM))

    path = os.path.join(out, "corpus.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "embedding": pa.array([list(map(float, v)) for v in embs], pa.list_(pa.float64())),
            }
        ),
        path,
        row_group_size=1024,
    )
    truth = CorpusTruth(
        originals=frozenset(range(n_orig)),
        junk=frozenset(groups["junk"]),
        exact=frozenset(groups["exact"]),
        near=frozenset(groups["near"]),
        semantic=frozenset(groups["semantic"]),
    )
    return path, truth


def digest(paths: list[str]) -> str:
    """sha256 over the bytes of the given files (input identity check)."""
    import hashlib

    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()
