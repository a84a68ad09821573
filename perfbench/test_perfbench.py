"""Tests of the benchmark itself: seeded inputs, output checks, tracer.

    python3 -m pytest perfbench -q

The generator and check tests need numpy only; the tracer test starts a
small local Spark session.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench import workloads as W


def _files(d):
    return sorted(os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs)


@pytest.mark.parametrize(
    "make",
    [
        lambda seed, out: gen.gen_eeg_batch(seed, out, seconds=16, recordings=1),
        lambda seed, out: gen.gen_corpus(seed, out, originals=120),
    ],
    ids=["eeg_batch", "corpus_dedup"],
)
def test_inputs_are_a_function_of_the_seed(make, tmp_path):
    make(7, str(tmp_path / "a"))
    make(7, str(tmp_path / "b"))
    make(8, str(tmp_path / "c"))
    a, b, c = (_files(str(tmp_path / k)) for k in "abc")
    assert [p.replace(str(tmp_path / "a"), "") for p in a] == [
        p.replace(str(tmp_path / "b"), "") for p in b
    ]
    assert gen.digest(a) == gen.digest(b)
    assert gen.digest(a) != gen.digest(c)


def test_edf_writer_round_trips_within_one_quantization_step(tmp_path):
    x = np.random.default_rng(0).normal(0, 100, (2, 1000))
    gen.write_edf(str(tmp_path / "x.edf"), gen.quantize(x), 500.0)
    back, fs = gen.read_edf(str(tmp_path / "x.edf"))
    assert fs == 500.0
    assert np.max(np.abs(back - x)) <= gen.quant_step() / 2 + 1e-9


# ------------------------------------------------------------ eeg_batch
@pytest.fixture(scope="module")
def eeg(tmp_path_factory):
    d = tmp_path_factory.mktemp("eeg")
    inputs, truth = gen.gen_eeg_batch(5, str(d / "in"), seconds=16, recordings=1)
    paths, _, live = inputs
    return d, paths, live, W.eeg_reference(inputs, truth)


def _perfect_eeg(d, paths, ref) -> dict:
    """The result a correct pass would collect, built from the reference."""
    psd, line, pac, stft = [], [], [], []
    for (rid, ch), r in ref["chains"].items():
        psd.append(pd.DataFrame({"recording_id": rid, "channel": ch, "freq": r["freqs"], "psd": r["psd"]}))
        line.append({"recording_id": rid, "channel": ch, "power": r["line_after"]})
        n = len(r["pac"])
        pac.append(
            pd.DataFrame(
                {"recording_id": rid, "channel": ch, "offset": np.arange(n),
                 "mean_sq_amp": r["pac"], "n_events": r["pac_events"]}
            )
        )
        Z = r["stft"]
        nseg, nf = Z.shape
        stft.append(
            pd.DataFrame(
                {"recording_id": rid, "channel": ch, "seg": np.repeat(np.arange(nseg), nf),
                 "freq": np.tile(r["stft_freqs"], nseg), "re": Z.real.ravel(), "im": Z.imag.ravel()}
            )
        )
    os.makedirs(d / "stft", exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pd.concat(stft), preserve_index=False), str(d / "stft" / "p.parquet"))
    rid = os.path.basename(paths[0])
    ys = [ref["chains"][(rid, ch)]["y"] for ch in range(gen.EEG_CHANNELS)]
    spr = int(W.OUT_FS)
    n = -(-len(ys[0]) // spr) * spr
    y = np.stack([np.concatenate([v, np.zeros(n - len(v))]) for v in ys])
    gen.write_edf(str(d / "export.edf"), gen.quantize(y), W.OUT_FS)
    return {
        "psd": pd.concat(psd),
        "line": pd.DataFrame(line),
        "pac": pd.concat(pac),
        "stft_dir": str(d / "stft"),
        "edf": {rid: str(d / "export.edf")},
        "live": ref["live"].reset_index(),
    }


def test_eeg_check_accepts_the_reference(eeg):
    d, paths, _, ref = eeg
    assert W.check_eeg(_perfect_eeg(d, paths, ref), ref) == ([], {})


def test_eeg_check_rejects_a_shifted_psd_peak(eeg):
    d, paths, _, ref = eeg
    res = _perfect_eeg(d, paths, ref)
    res["psd"]["psd"] = res["psd"].groupby(["recording_id", "channel"]).psd.transform(
        lambda s: np.roll(s.to_numpy(), 4)
    )
    errs, _ = W.check_eeg(res, ref)
    assert any("PSD" in e for e in errs)


def test_eeg_check_rejects_an_unfiltered_line(eeg):
    d, paths, _, ref = eeg
    res = _perfect_eeg(d, paths, ref)
    res["line"]["power"] *= 100.0
    assert any("60 Hz" in e for e in W.check_eeg(res, ref)[0])


# --------------------------------------------------------- corpus_dedup
@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    return gen.gen_corpus(9, str(tmp_path_factory.mktemp("corpus")), originals=200)[1]


def _shards(ids) -> dict:
    ids = sorted(ids)
    return {
        "shards": pd.DataFrame(
            {"doc_id": ids, "split": "train", "shard_id": [i // W.SHARD_ROWS for i in range(len(ids))]}
        )
    }


def test_corpus_check_accepts_a_perfect_dedup(corpus):
    assert W.check_corpus(_shards(corpus.originals), corpus) == ([], {"dup_recall": 1.0})


def test_corpus_check_rejects_a_surviving_planted_duplicate(corpus):
    keep = set(corpus.originals) | {min(corpus.exact)}
    errs, _ = W.check_corpus(_shards(keep), corpus)
    assert any("exact duplicates survived" in e for e in errs)


def test_corpus_check_rejects_a_removed_unique_document(corpus):
    keep = set(corpus.originals) - {min(corpus.originals)}
    errs, _ = W.check_corpus(_shards(keep), corpus)
    assert any("unique documents were removed" in e for e in errs)


def test_corpus_check_rejects_a_short_shard(corpus):
    res = _shards(corpus.originals)
    res["shards"].loc[0, "shard_id"] = res["shards"].shard_id.max() + 1
    errs, _ = W.check_corpus(res, corpus)
    assert any("shard layout" in e for e in errs)


def test_corpus_recall_counts_missed_near_duplicates(corpus):
    keep = set(corpus.originals) | set(sorted(corpus.near)[:3])
    errs, extra = W.check_corpus(_shards(keep), corpus)
    assert errs == []
    assert extra["dup_recall"] == 1.0 - 3 / len(corpus.near | corpus.semantic)


# ------------------------------------------------------------ live replay
def _stream(x, order, rows):
    """Carried-state notch over files taken in ``order``, as the stream
    would emit them."""
    from openseize_spark.dsp import kernels

    sos = W.eeg_filters().notch
    zi = {ch: np.zeros((sos.shape[0], 2)) for ch in range(x.shape[0])}
    out = []
    for f in order:
        t = np.arange(f * rows, (f + 1) * rows)
        for ch in range(x.shape[0]):
            y, zi[ch] = kernels.sosfilt(sos, x[ch, t], zi[ch])
            out.append(pd.DataFrame({"channel": ch, "t": t, "v": y}))
    return pd.concat(out)


def test_live_check_rejects_one_reordered_batch(eeg):
    _, _, live, ref = eeg
    raw = pq.read_table(live).to_pandas().sort_values(["channel", "t"])
    x = np.stack([g.v.to_numpy() for _, g in raw.groupby("channel")])
    rows = x.shape[1] // gen.LIVE_FILES
    want, files = ref["live"], list(range(gen.LIVE_FILES))
    swapped = [files[1], files[0], *files[2:]]
    assert W.stream_mismatches(_stream(x, files, rows), want, files, rows) == set()
    assert {0, 1} <= W.stream_mismatches(_stream(x, swapped, rows), want, files, rows)
    assert W.stream_mismatches(_stream(x, files[:-1], rows), want, files, rows) == {files[-1]}


# --------------------------------------------------------------- tracer
@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def _docs(spark):
    return spark.createDataFrame(
        [(i, f"the cat and the dog {i % 5} is in the house of the man") for i in range(200)],
        "doc_id long, text string",
    )


def _traced_pass(spark, body):
    """Run ``body(tr)`` as a traced pass; returns the tracer, resolved,
    and its audit against every job the pass submitted."""
    from perfbench.trace import Tracer, next_job_id

    tr = Tracer(spark, "t", enabled=True)
    first = next_job_id(spark.sparkContext)
    with tr.span("pass"):
        body(tr)
    end = next_job_id(spark.sparkContext)
    tr.resolve()
    return tr, tr.audit(first, end)


def test_every_job_of_a_pass_is_in_one_span_and_task_time_adds_up(spark):
    from perfbench.trace import LAYERS

    from openseize_spark.llm import dedup, text

    def body(tr):
        ex = tr.call("llm.dedup.exact_dedup", dedup.exact_dedup, _docs(spark))
        good = tr.call("llm.text.quality_filter", text.quality_filter, ex)
        agg = good.groupBy((good.doc_id % 3).alias("k")).count()
        agg.collect()  # glue, in the root span
        with tr.span("llm.text.again"):
            agg.collect()  # reuses the glue's shuffle: that stage must not count twice

    tr, audit = _traced_pass(spark, body)
    assert audit["jobs"] >= 3
    assert audit["unattributed"] == [] and audit["shared"] == []
    assert all(s.jobs for s in tr.spans)
    # the status store's own total for the pass, not the spans' sum
    assert audit["task_s"] > 0
    layers = tr.layer_metrics(cores=2)
    assert sum(layers[f"{l}.task_s"] for l in LAYERS) <= audit["task_s"] + 1e-9
    assert sum(s.stats["task_s"] for s in tr.spans) == pytest.approx(audit["task_s"], abs=1e-9)
    assert layers["llm.dedup.rows_out"] == 5
    assert layers["llm.dedup.jobs"] >= 1 and layers["llm.text.jobs"] >= 1
    root = next(s for s in tr.spans if s.name == "pass")
    selft = tr.self_times()
    assert sum(selft[id(s)] for s in tr.spans) == pytest.approx(root.end - root.start, abs=1e-6)


def test_audit_finds_a_job_that_ran_outside_every_span(spark):
    import threading

    def elsewhere():
        spark.sparkContext.setJobGroup("elsewhere", "not a span")
        _docs(spark).count()

    def body(tr):
        tr.call("llm.text.quality_filter", lambda d: d, _docs(spark))
        t = threading.Thread(target=elsewhere)
        t.start()
        t.join()

    _, audit = _traced_pass(spark, body)
    assert len(audit["unattributed"]) >= 1
