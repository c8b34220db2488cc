"""Seeded inputs for the drain workloads.

Rows follow the engine's fixture mix (``imagor_spark.sources.clips``: the
skewed codec shares, sample rates, ops-path templates, ~50% signed / ~49%
``unsafe/`` / ~1% bad-signature paths, ~1% duplicate clip ids,
log-uniform 0.2-5 s durations). Waveforms are cut from a seeded per-run
tone bank at a random offset and gain, so every payload is new and
generation stays cheap. The benchmark also owns the event-time schedule
(0.05 s spacing, +/-30 s jitter, 0.5% of rows 30 minutes late), how rows split
into files (one file per micro-batch) and, for backfill drains, which
already-cached rows are re-submitted.

Generation runs in a small spawn pool before the Spark session starts, so
it never competes with the measured work.
"""

from __future__ import annotations

import multiprocessing
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema([
    ("clip_id", pa.string()),
    ("bytes", pa.binary()),
    ("sr_hz", pa.int32()),
    ("dur_ms", pa.int32()),
    ("codec", pa.string()),
    ("transcript", pa.string()),
    ("ingest_ts", pa.timestamp("us", tz="UTC")),
    ("ops", pa.string()),
])
LIGHT_COLS = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript", "ingest_ts", "ops"]

BASE_TS = pd.Timestamp("2026-01-01", tz="UTC")
ROW_SPACING_S = 0.05
JITTER_S = 30.0
LATE_SHARE = 0.005
LATE_S = 1800.0
# index ranges of different drains are this far apart, so a fixture
# duplicate (clip id of index - 7) never names a clip of another drain
RANGE_GAP = 100
GEN_CHUNK = 1000  # rows per pool task; a drain's chunks cover its index range


@dataclass
class Drain:
    """One backlog: ``files[k]`` is consumed by micro-batch k."""

    name: str
    in_dir: str
    files: list[str]
    rows: pd.DataFrame  # LIGHT_COLS + batch, resub, file, pos
    n: int = field(init=False)

    def __post_init__(self):
        self.n = len(self.rows)


_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim minim veniam"
).split()
DUP_SHARE = 0.01
BAD_SIG_SHARE = 0.01
SIGNED_SHARE = 0.50
BANK_S = 5.5


def _tone_bank(seed: int, sr: int) -> np.ndarray:
    rng = np.random.default_rng([seed, sr, 0xB4])
    t = np.arange(int(BANK_S * sr), dtype=np.float64) / sr
    x = np.zeros_like(t)
    for _ in range(3):
        x += rng.uniform(0.1, 0.4) * np.sin(
            2 * np.pi * rng.uniform(80.0, min(4000.0, sr / 2.5)) * t + rng.uniform(0, 6.3))
    x += rng.normal(0.0, 0.02, len(t))
    return (x / np.abs(x).max() * 0.95).astype(np.float32)


def make_rows(seed: int, start: int, n: int) -> pa.Table:
    """``n`` rows for clip indices ``start..start+n``. A duplicate row
    re-uses the clip id of the row 7 places earlier, with its own payload
    and ops."""
    from imagor_spark.audio import codecs
    from imagor_spark.imagorpath import HMACSigner
    from imagor_spark.sources.clips import CODEC_P, CODECS, OPS_TEMPLATES, SECRET, SR_CHOICES

    rng = np.random.default_rng([seed, start, 0xC1])
    signer = HMACSigner("sha1", 0, SECRET)
    banks = {int(sr): _tone_bank(seed, int(sr)) for sr in SR_CHOICES}
    w = np.array([x for x, _ in OPS_TEMPLATES])
    idx = np.arange(start, start + n)
    dup = (rng.random(n) < DUP_SHARE) & (np.arange(n) >= 7)
    cid = np.where(dup, idx - 7, idx)
    sr = SR_CHOICES[rng.integers(0, len(SR_CHOICES), n)]
    dur = np.round(np.exp(rng.uniform(np.log(200), np.log(5000), n))).astype(np.int32)
    codec = CODECS[rng.choice(len(CODECS), n, p=CODEC_P)]
    tmpl = rng.choice(len(OPS_TEMPLATES), n, p=w / w.sum())
    mode = rng.random(n)
    gain = rng.uniform(0.3, 1.0, n)
    silence = rng.random(n) < 0.25
    cols = {k: [] for k in ("clip_id", "bytes", "transcript", "ops")}
    for i in range(n):
        clip = f"clip{cid[i]:08d}"
        bank = banks[int(sr[i])]
        k = max(1, int(round(dur[i] * int(sr[i]) / 1000)))
        off = int(rng.integers(0, len(bank) - k))
        pcm = bank[off:off + k] * np.float32(gain[i])
        if silence[i] and k > 400:
            pcm[: int(rng.integers(0, k // 8))] = 0.0
            pcm[k - int(rng.integers(0, k // 8)):] = 0.0
        path = OPS_TEMPLATES[tmpl[i]][1] + clip
        if mode[i] < BAD_SIG_SHARE:
            ops = "X" * 28 + "/" + path
        elif mode[i] < BAD_SIG_SHARE + SIGNED_SHARE:
            ops = signer.sign(path) + "/" + path
        else:
            ops = "unsafe/" + path
        h = int(cid[i]) * 2654435761 % (1 << 32)
        cols["clip_id"].append(clip)
        cols["bytes"].append(codecs.encode(pcm, int(sr[i]), str(codec[i])))
        cols["transcript"].append(" ".join(_WORDS[(h + j) % len(_WORDS)] for j in range(4 + h % 9)))
        cols["ops"].append(ops)
    return pa.table({
        "clip_id": cols["clip_id"], "bytes": cols["bytes"],
        "sr_hz": pa.array(sr, pa.int32()), "dur_ms": pa.array(dur, pa.int32()),
        "codec": pa.array(codec.astype(str)), "transcript": cols["transcript"],
        "ingest_ts": pa.nulls(n, SCHEMA.field("ingest_ts").type), "ops": cols["ops"],
    }, schema=SCHEMA)


def _gen_chunk(args) -> str:
    """Pool task: one chunk of rows written to ``path``."""
    seed, start, n, path = args
    pq.write_table(make_rows(seed, start, n), path)
    return path


def generate_chunks(specs: list[tuple[int, int, int, str]], procs: int) -> None:
    """Write every ``(seed, start, n, path)`` chunk with a spawn pool."""
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs) as pool:
        for _ in pool.imap_unordered(_gen_chunk, specs):
            pass


def event_times(seed: int, drain_no: int, n: int) -> pd.Series:
    rng = np.random.default_rng([seed, drain_no, 0xE7])
    off = np.arange(n) * ROW_SPACING_S + rng.uniform(-JITTER_S, JITTER_S, n)
    off[rng.random(n) < LATE_SHARE] -= LATE_S
    return BASE_TS + pd.to_timedelta(np.round(off * 1e6).astype(np.int64), unit="us")


def write_drain(name: str, in_dir: str, table: pa.Table, resub: np.ndarray,
                seed: int, drain_no: int, shares: tuple[float, ...]) -> Drain:
    """Stamp event times, split ``table`` into files of the given row
    shares with increasing mtimes (the file source consumes oldest first)
    and return the drain with its light row frame for the oracle."""
    os.makedirs(in_dir, exist_ok=True)
    n = table.num_rows
    ts = event_times(seed, drain_no, n)
    table = table.set_column(
        table.schema.get_field_index("ingest_ts"), "ingest_ts",
        pa.array(ts, type=SCHEMA.field("ingest_ts").type),
    )
    n_files = len(shares)
    bounds = np.round(np.r_[0.0, np.cumsum(shares)] * n).astype(int)
    files, now = [], time.time() - n_files - 5
    light = table.select(LIGHT_COLS).to_pandas()
    light["resub"] = resub
    light["batch"] = 0
    light["pos"] = 0
    for k in range(n_files):
        lo, hi = int(bounds[k]), int(bounds[k + 1])
        path = os.path.join(in_dir, f"part-{k:03d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path)
        os.utime(path, (now + k, now + k))
        files.append(path)
        light.iloc[lo:hi, light.columns.get_loc("batch")] = k
        light.iloc[lo:hi, light.columns.get_loc("pos")] = np.arange(hi - lo)
    light["file"] = [files[b] for b in light["batch"]]
    return Drain(name, in_dir, files, light)


@dataclass
class Plan:
    """Everything one run consumes, made before the session starts."""

    warm: Drain
    timed: list[Drain]
    cache: Drain | None = None
    gen_s: float = 0.0


def make_plan(workload: str, seed: int, root: str, n_clips: int, shares: tuple[float, ...],
              n_timed: int, resub_share: float, procs: int) -> Plan:
    """One warm-up drain and ``n_timed`` timed drains of ``n_clips`` rows
    each (plus, for backfill_cached, the drain that renders the cache)."""
    t0 = time.time()
    chunk_dir = os.path.join(root, "chunks")
    os.makedirs(chunk_dir, exist_ok=True)
    k = 0 if workload == "backlog_render" else int(round(n_clips * resub_share))
    # (name, fresh rows, re-submitted rows)
    names = [("cache", n_clips, 0)] if workload == "backfill_cached" else []
    names += [(name, n_clips - k, k) for name in ["warm"] + [f"timed{i}" for i in range(n_timed)]]
    specs, chunks, start = [], {}, 1000
    for name, n, _ in names:
        chunks[name] = []
        for j, lo in enumerate(range(0, n, GEN_CHUNK)):
            path = os.path.join(chunk_dir, f"{name}-{j}.parquet")
            specs.append((seed, start + lo, min(GEN_CHUNK, n - lo), path))
            chunks[name].append(path)
        start += n + RANGE_GAP
    generate_chunks(specs, procs)

    drains: dict[str, Drain] = {}
    cache_pool = None
    for drain_no, (name, _, k) in enumerate(names):
        fresh = pa.concat_tables([pq.read_table(c, schema=SCHEMA) for c in chunks[name]])
        table, resub = fresh, np.zeros(fresh.num_rows, bool)
        if k:
            rng = np.random.default_rng([seed, drain_no, 0xBF])
            take = np.sort(rng.choice(len(cache_pool), size=k, replace=False))
            table = pa.concat_tables([cache_pool.take(pa.array(take)), fresh])
            resub = np.r_[np.ones(k, bool), np.zeros(fresh.num_rows, bool)]
            perm = rng.permutation(table.num_rows)
            table, resub = table.take(pa.array(perm)), resub[perm]
        d = write_drain(name, os.path.join(root, "in", name), table, resub,
                        seed, drain_no, shares)
        drains[name] = d
        if name == "cache":
            from oracle import renderable_once

            cache_pool = table.take(pa.array(np.flatnonzero(renderable_once(d))))
        for c in chunks[name]:
            os.remove(c)
    return Plan(
        warm=drains["warm"],
        timed=[drains[n] for n, _, _ in names if n.startswith("timed")],
        cache=drains.get("cache"),
        gen_s=time.time() - t0,
    )
