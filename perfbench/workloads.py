"""The workloads: one pass each, its numpy reference and its checks.

``WORKLOADS`` at the bottom maps each workload name to its four steps.
A pass ``*_pass(spark, tr, inputs, ref, out_dir)`` drives the library only
through its public functions, routing every call through
``tr.call("<layer>.<function>", fn, ...)`` so the traced pass can
attribute Spark work to layers, and returns the collected results.
``check_*`` compares those results with a single-process numpy run of the
same chain (or with the planted truth) and returns the failure messages
(empty means correct) and any extra metrics.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from functools import reduce
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
import pyarrow.dataset as pads

from perfbench import gen

# ------------------------------------------------------------ eeg_batch
OUT_FS = gen.EEG_FS / 2      # after the 1/2 resample
BLOCK = 8192
PSD_NFFT = 512
STFT_NFFT = 256
PAC_TARGET = np.pi
PAC_TOL = 0.1
PAC_WINDOW = 36
PSD_STEP = OUT_FS / PSD_NFFT
LINE_BAND = (119 * PSD_STEP, 127 * PSD_STEP)   # 58.1-62.0 Hz, on PSD bins
LIVE_TABLE = "perfbench_live"


@dataclass(frozen=True)
class EegFilters:
    bandpass: np.ndarray     # FIR taps
    notch: np.ndarray        # second-order sections
    hilbert: object          # design.FirSpec


def eeg_filters() -> EegFilters:
    from openseize_spark.dsp import design

    bp = design.kaiser(fpass=(4.0, 90.0), fstop=(2.0, 110.0), fs=gen.EEG_FS)
    nt = design.notch(gen.LINE_HZ, 4.0, gen.EEG_FS)
    return EegFilters(bp.taps, nt.sos, design.hilbert_fir(width=2.0, fs=OUT_FS))


def _mask_keep(n: int, ivals, fs: float) -> np.ndarray:
    keep = np.ones(n, dtype=bool)
    for start, dur in ivals:
        a = int(np.floor(start * fs + 0.5))
        b = int(np.floor((start + dur) * fs + 0.5))
        keep[max(a, 0) : max(b, 0)] = False
    return keep


def eeg_reference(inputs: tuple[list[str], str, str], truth: gen.EegTruth) -> dict:
    """The same chain, single process, through dsp.kernels: ``chains``
    per (recording, channel), ``live``, the notch over each whole live
    channel, v indexed by (channel, t), and the ``filters`` both use."""
    from openseize_spark.dsp import kernels as K

    paths, _, live_dir = inputs
    flt = eeg_filters()
    ref = {}
    for p in paths:
        rid = os.path.basename(p)
        x, fs = gen.read_edf(p)
        keep = _mask_keep(x.shape[1], truth.artifacts[rid], fs)
        for ch in range(x.shape[0]):
            xm = x[ch, keep]
            fir = K.convolve(xm, flt.bandpass, "same")
            y, _ = K.sosfilt(flt.notch, fir)
            y = K.resample_poly(y, 1, 2)
            y_no_notch = K.resample_poly(fir, 1, 2)
            freqs, psd = K.welch(y, OUT_FS, PSD_NFFT)
            _, psd0 = K.welch(y_no_notch, OUT_FS, PSD_NFFT)
            sf, st, Z = K.stft(y, OUT_FS, STFT_NFFT)
            im = K.convolve(y, flt.hilbert.taps, "same")
            amp = np.sqrt(y * y + im * im)
            ph = np.arctan2(im, y)
            ph = np.where(ph < 0, ph + 2 * np.pi, ph)
            intol = np.abs(ph - PAC_TARGET) <= PAC_TOL
            ev = np.flatnonzero(intol & ~np.concatenate([[False], intol[:-1]]))
            half = PAC_WINDOW // 2
            ev = ev[(ev - half >= 0) & (ev + half - 1 <= len(y) - 1)]
            win = amp[ev[:, None] - half + np.arange(2 * half)[None, :]]
            ref[(rid, ch)] = dict(
                y=y,
                freqs=freqs,
                psd=psd,
                line_before=K.band_power(freqs, psd0, *LINE_BAND),
                line_after=K.band_power(freqs, psd, *LINE_BAND),
                stft=Z,
                stft_freqs=sf,
                pac=(win * win).mean(axis=0),
                pac_events=len(ev),
                rhythm=truth.rhythm_hz[rid],
            )
    x = pads.dataset(live_dir, format="parquet").to_table().to_pandas()
    x = x.sort_values(["channel", "t"])
    live = x.assign(v=x.groupby("channel").v.transform(lambda v: K.sosfilt(flt.notch, v.to_numpy())[0]))
    return {"chains": ref, "live": live.set_index(["channel", "t"]).v, "filters": flt}


def replay_live(spark, src_dir: str, ckpt: str, sos: np.ndarray):
    """streaming_sosfilt over the live files, one file per micro-batch,
    until the stream is drained.  Returns (output rows, progress, run id)."""
    from openseize_spark.streaming.stateful import streaming_sosfilt

    shutil.rmtree(ckpt, ignore_errors=True)
    schema = "recording_id string, channel int, t long, v double"
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    q = (
        streaming_sosfilt(stream, sos)
        .writeStream.format("memory")
        .queryName(LIVE_TABLE)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        live = spark.sql(f"SELECT channel, t, v FROM {LIVE_TABLE}").toPandas()
    finally:
        q.stop()
        spark.catalog.dropTempView(LIVE_TABLE)
    return live, q.recentProgress, str(q.runId)


def read_edf_df(spark, path: str):
    return (
        spark.read.format("edf")
        .option("path", path)
        .option("recs_per_partition", "12")
        .load()
    )


def eeg_pass(spark, tr, inputs, ref: dict, out_dir: str) -> dict:
    from pyspark.sql import functions as F

    from openseize_spark.operators import coupling, fir, iir, relational, resample, spectral
    from openseize_spark.signal import SignalFrame
    from openseize_spark.sources import edf

    paths, ann_path, live_dir = inputs
    flt = ref["filters"]
    edf.register_edf_source(spark)
    reads = [tr.call("sources.edf.read", read_edf_df, spark, p) for p in paths]
    sf = SignalFrame(reduce(lambda a, b: a.unionByName(b), reads), gen.EEG_FS)
    ann = spark.read.parquet(ann_path)
    sf = tr.call(
        "operators.relational.mask_from_annotations",
        relational.mask_from_annotations, sf, ann, include=False,
    )
    sf = tr.call("operators.fir.apply_fir_blocks", fir.apply_fir_blocks, sf, flt.bandpass, block_size=BLOCK)
    sf = tr.call("operators.iir.sosfilt_blocks", iir.sosfilt_blocks, sf, flt.notch, block_size=BLOCK)
    sf = tr.call("operators.resample.resample", resample.resample, sf, 1, 2, block_size=BLOCK)
    # the filtered signal feeds four consumers: materialize it once
    sf = tr.keep(sf)

    # consumer 1: Welch PSD + band power
    psd = tr.keep(
        tr.call("operators.spectral.welch_psd_blocks", spectral.welch_psd_blocks, sf, PSD_NFFT)
    )
    line = tr.call(
        "operators.spectral.band_power", spectral.band_power, psd, *LINE_BAND, PSD_STEP
    )
    res = {"psd": psd.toPandas(), "line": line.toPandas()}

    # consumer 2: STFT written to parquet
    stft_dir = os.path.join(out_dir, "stft")

    def write_stft(sf_):
        spectral.stft_blocks(sf_, STFT_NFFT).write.mode("overwrite").parquet(stft_dir)

    tr.call("operators.spectral.stft_blocks", write_stft, sf)
    res["stft_dir"] = stft_dir

    # consumer 3: phase-amplitude coupling
    an = tr.call("operators.fir.hilbert_analytic", fir.hilbert_analytic, sf, flt.hilbert)
    ep = tr.keep(tr.call("operators.fir.envelope_phase", fir.envelope_phase, an))
    ev = tr.call(
        "operators.coupling.phase_events", coupling.phase_events,
        ep.select("recording_id", "channel", "t", "phase"), PAC_TARGET, PAC_TOL,
    )
    amp = ep.select("recording_id", "channel", "t", F.col("amplitude").alias("v"))
    pac = tr.call("operators.coupling.pac_estimate", coupling.pac_estimate, amp, ev, PAC_WINDOW)
    res["pac"] = pac.toPandas()

    # consumer 4: EDF export of the first recording
    rid = os.path.basename(paths[0])
    dst = os.path.join(out_dir, "export_" + rid)
    tr.call(
        "sources.edf.write_edf_from_df", edf.write_edf_from_df,
        sf.df.filter(F.col("recording_id") == rid), dst, OUT_FS, gen.PHYS_RANGE, 1.0,
    )
    res["edf"] = {rid: dst}

    # consumer 5: the raw first recording replayed as a live file stream,
    # carried IIR state per micro-batch instead of the block scan; its jobs
    # run in the query's own job group (the run id)
    with tr.span("streaming.stateful.streaming_sosfilt") as s:
        res["live"], res["live_progress"], run_id = replay_live(
            spark, live_dir, os.path.join(out_dir, "live_checkpoint"), flt.notch
        )
        if s is not None:
            s.extra_groups.append(run_id)
    return res


def check_eeg(res: dict, ref: dict) -> tuple[list[str], dict]:
    errs = []
    rows = len(ref["live"]) // gen.EEG_CHANNELS // gen.LIVE_FILES
    bad = stream_mismatches(res["live"], ref["live"], range(gen.LIVE_FILES), rows)
    if bad:
        errs.append(f"live stream: files {sorted(bad)} differ from the batch notch")
    psd = res["psd"].sort_values(["recording_id", "channel", "freq"])
    line = res["line"].set_index(["recording_id", "channel"])["power"]
    stft = pads.dataset(res["stft_dir"], format="parquet").to_table().to_pandas()
    stft = stft.sort_values(["recording_id", "channel", "seg", "freq"])
    pac = res["pac"].sort_values(["recording_id", "channel", "offset"])
    exported = {rid: gen.read_edf(p)[0] for rid, p in res["edf"].items()}
    for (rid, ch), r in ref["chains"].items():
        tag = f"{rid}/ch{ch}"
        g = psd[(psd.recording_id == rid) & (psd.channel == ch)]
        if len(g) != len(r["freqs"]) or not np.allclose(g.psd.to_numpy(), r["psd"], rtol=1e-7, atol=1e-9):
            errs.append(f"{tag}: PSD differs from the numpy chain")
            continue
        peak = r["freqs"][int(np.argmax(g.psd.to_numpy()))]
        if abs(peak - r["rhythm"]) > OUT_FS / PSD_NFFT:
            errs.append(f"{tag}: PSD peak {peak:.2f} Hz is not the planted {r['rhythm']:.2f} Hz")
        lp = float(line.get((rid, ch), np.nan))
        if not np.isclose(lp, r["line_after"], rtol=1e-6, atol=1e-9):
            errs.append(f"{tag}: 60 Hz band power differs from the numpy chain")
        if not lp < 0.05 * r["line_before"]:
            errs.append(f"{tag}: 60 Hz power did not drop after the notch")
        s = stft[(stft.recording_id == rid) & (stft.channel == ch)]
        Z = r["stft"]
        if len(s) != Z.size or not np.allclose(
            s.re.to_numpy() + 1j * s.im.to_numpy(), Z.ravel(), rtol=1e-7, atol=1e-9
        ):
            errs.append(f"{tag}: STFT parquet differs from the numpy chain")
        p = pac[(pac.recording_id == rid) & (pac.channel == ch)]
        if (
            len(p) != len(r["pac"])
            or abs(int(p.n_events.iloc[0]) - r["pac_events"]) > 1
            or not np.allclose(p.mean_sq_amp.to_numpy(), r["pac"], rtol=1e-3)
        ):
            errs.append(f"{tag}: PAC curve differs from the numpy chain")
        if rid not in exported:
            continue
        y = r["y"]
        back = exported[rid][ch][: len(y)]
        if len(back) != len(y) or np.max(np.abs(back - y)) > gen.quant_step():
            errs.append(f"{tag}: EDF export does not read back within one quantization step")
    return errs, {}


# --------------------------------------------------------- corpus_dedup
SHARD_ROWS = 100
SEM_K = 8


def corpus_pass(spark, tr, corpus_path: str, truth: gen.CorpusTruth, out_dir: str) -> dict:
    from pyspark.sql import functions as F

    from openseize_spark.llm import dedup, sampling, similarity, text

    docs = spark.read.parquet(corpus_path)
    ex = tr.call("llm.dedup.exact_dedup", dedup.exact_dedup, docs.select("doc_id", "text"))
    sigs = tr.call("llm.dedup.minhash_signatures", dedup.minhash_signatures, ex)
    cand = tr.call("llm.dedup.minhash_lsh_pairs", dedup.minhash_lsh_pairs, sigs)
    ver = tr.call("llm.dedup.jaccard_verify", dedup.jaccard_verify, ex, cand)
    cc = tr.call("llm.dedup.connected_components", dedup.connected_components, ver.select("a", "b"))
    losers = cc.filter(F.col("id") != F.col("component")).select(F.col("id").alias("doc_id"))
    surv = ex.join(losers, on="doc_id", how="left_anti").select("doc_id", "text")
    good = tr.call("llm.text.quality_filter", text.quality_filter, surv)
    emb = docs.join(good.select("doc_id"), on="doc_id").select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    _, cents = tr.call("llm.similarity.kmeans_fit", similarity.kmeans_fit, emb, SEM_K, 2)
    sem = tr.call("llm.similarity.semantic_dedup", similarity.semantic_dedup, emb, cents, 0.9)
    final = docs.join(sem.select(F.col("vec_id").alias("doc_id")), on="doc_id").select("doc_id", "text")
    split = tr.call(
        "llm.sampling.split_assign", sampling.split_assign, final, {"train": 0.9, "val": 0.1}
    )
    shards = os.path.join(out_dir, "shards")
    tr.call("llm.sampling.write_shards", sampling.write_shards, split, shards, SHARD_ROWS)
    tbl = pads.dataset(shards, format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "split", "shard_id"]
    )
    return {"shards": tbl.to_pandas()}


def check_corpus(res: dict, truth: gen.CorpusTruth) -> tuple[list[str], dict]:
    """Returns (failures, {"dup_recall": ...})."""
    errs = []
    sh = res["shards"]
    survivors = set(sh.doc_id.tolist())
    if len(survivors) != len(sh):
        errs.append("a document was written to more than one shard row")
    # full shards of SHARD_ROWS, ids 0..k-1, the last one possibly short:
    # with unique ids their row counts then sum to the survivors
    sizes = sh.groupby("shard_id").size().sort_index()
    if (
        list(sizes.index) != list(range(len(sizes)))
        or (sizes.iloc[:-1] != SHARD_ROWS).any()
        or not 0 < sizes.iloc[-1] <= SHARD_ROWS
    ):
        errs.append(f"shard layout is not full shards of {SHARD_ROWS} rows: {sizes.tolist()}")
    if not set(sh.split.unique()) <= {"train", "val"}:
        errs.append("unknown split label")
    if survivors & truth.exact:
        errs.append(f"{len(survivors & truth.exact)} planted exact duplicates survived")
    lost = truth.originals - survivors
    if lost:
        errs.append(f"{len(lost)} unique documents were removed")
    if survivors & truth.junk:
        errs.append(f"{len(survivors & truth.junk)} low-quality documents survived")
    planted = truth.near | truth.semantic
    recall = len(planted - survivors) / len(planted)
    return errs, {"dup_recall": recall}


def stream_mismatches(got: pd.DataFrame, want: pd.Series, files, rows: int) -> set[int]:
    """Files (``rows`` samples per channel each) whose streamed rows
    (channel, t, v) are missing or differ from the batch filter's."""
    got = got.set_index(["channel", "t"]).v.sort_index()
    gt = got.index.get_level_values("t") // rows
    wt = want.index.get_level_values("t") // rows
    bad = set()
    for f in files:
        g, w = got[gt == f], want[wt == f]
        if len(g) != len(w) or not g.index.equals(w.index) or not np.allclose(
            g.to_numpy(), w.to_numpy(), rtol=1e-9, atol=1e-9
        ):
            bad.add(f)
    return bad


# ------------------------------------------------------------ the table
class Workload(NamedTuple):
    generate: Callable   # (seed, dir) -> (inputs, truth)
    prepare: Callable    # (inputs, truth) -> ref, what the check compares with
    run_pass: Callable   # (spark, tr, inputs, ref, out_dir) -> result
    check: Callable      # (result, ref) -> (failures, {metric: value})


WORKLOADS = {
    "eeg_batch": Workload(gen.gen_eeg_batch, eeg_reference, eeg_pass, check_eeg),
    "corpus_dedup": Workload(gen.gen_corpus, lambda inputs, truth: truth, corpus_pass, check_corpus),
}
