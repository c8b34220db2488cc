"""Output oracle, written from the engine's documented contract rather than
from its code.

Prediction per input row, in the order the dataflow applies the rules:

1. late: a row whose event time is at or below the watermark the
   dedup operator applies to late events. With more than one stateful
   operator allowed per query, Spark filters late events of batch b by the
   watermark batch b-1 ran with: the max event time over batches before
   b-1, minus the 10-minute delay. So nothing is late before batch 2;
2. duplicate: a clip id already kept by an earlier batch, or a second row
   of one clip id in the same batch (which row of the group survives is
   the engine's choice, so the group is matched against what committed);
3. cache hit: a re-submitted (clip, ops) key that the result cache holds;
4. singleflight: a second kept row with the same key in one batch;
5. status: HMAC-SHA1 over the path with the fixture secret (``unsafe/``
   allowed), then the per-codec admission limits, then ``meta`` for
   ``meta/`` paths and ``ok`` otherwise.

Every check counts as attempted; every miss counts as failed and its
message is kept for the run record.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from probes import executions

SECRET = b"1234"  # the fixture signing secret (FIXTURES.md section 3)
WATERMARK_DELAY = pd.Timedelta(minutes=10)
# per-codec admission limits (FIXTURES.md section 2): max duration, max rate
ADMISSION = {
    "wav": (3_600_000, 192_000),
    "flac": (3_600_000, 192_000),
    "ogg": (1_800_000, 48_000),
    "mp3": (1_800_000, 48_000),
}
RENDERED = ("ok", "meta")
SNR_MIN_DB = 30.0


def sign(path: str) -> str:
    return base64.urlsafe_b64encode(
        hmac.new(SECRET, path.encode(), hashlib.sha1).digest()
    ).decode()


def signer_matches_golden() -> bool:
    """The oracle's signer against imagor's published vector
    (imagorpath/params_test.go, secret "1234")."""
    return sign("meta/10x11:12x13/fit-in/-300x-200/5x6/left/top/smart/"
                "filters:some_filter()/img") == "VTAq7YIRbEXgtwAcsTMhAjvBuT8="


def key_path(ops: str) -> str:
    """The path a result is keyed on: ops without its ``unsafe/`` or
    signature prefix."""
    head, _, rest = ops.partition("/")
    return rest


def status_of(ops: str, codec: str, sr_hz: int, dur_ms: int) -> str:
    head, _, path = ops.partition("/")
    if head != "unsafe" and sign(path) != head:
        return "sig_mismatch"
    if codec not in ADMISSION:
        return "not_found"
    max_dur, max_sr = ADMISSION[codec]
    if dur_ms > max_dur or sr_hz > max_sr:
        return "resolution_bomb"
    return "meta" if path.startswith("meta/") else "ok"


def to_us(ts: pd.Series) -> np.ndarray:
    """Event times as integer microseconds since the epoch."""
    t = pd.to_datetime(ts, utc=True)
    return ((t - pd.Timestamp(0, tz="UTC")) // pd.Timedelta(microseconds=1)).to_numpy()


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.misses: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.misses) < 50:
                self.misses.append(what)
        return ok


def predict(rows: pd.DataFrame, cached_keys: set[str] | None = None) -> pd.DataFrame:
    """Adds ``fate`` (late | dup | dupgroup | hit | sf | status) and
    ``status`` columns. ``dupgroup`` marks rows of a same-batch clip-id
    group: exactly one member survives to its own status."""
    out = rows.copy()
    out["key"] = out["ops"].map(key_path)
    out["status"] = [
        status_of(o, c, int(s), int(d))
        for o, c, s, d in zip(out["ops"], out["codec"], out["sr_hz"], out["dur_ms"])
    ]
    fate = np.array(["status"] * len(out), dtype=object)
    seen: set[str] = set()
    ts_us = to_us(out["ingest_ts"])
    delay_us = WATERMARK_DELAY // pd.Timedelta(microseconds=1)
    batches = out["batch"].to_numpy()
    batch_max: list[int] = []
    for b in sorted(set(batches)):
        idx = np.flatnonzero(batches == b)
        ts = ts_us[idx]
        if len(batch_max) >= 2:
            late_wm = max(batch_max[:-1]) - delay_us
            fate[idx[ts <= late_wm]] = "late"
        batch_max.append(int(ts.max()))
        live = [i for i in idx if fate[i] != "late"]
        by_id: dict[str, list[int]] = {}
        for i in live:
            by_id.setdefault(out["clip_id"].iat[i], []).append(i)
        for cid, members in by_id.items():
            if cid in seen:
                fate[members] = "dup"
            elif len(members) > 1:
                fate[members] = "dupgroup"
            seen.add(cid)
        keys_seen: set[str] = set()
        for i in live:
            if fate[i] not in ("status", "dupgroup"):
                continue
            k = out["key"].iat[i]
            if cached_keys is not None and out["resub"].iat[i] and k in cached_keys:
                fate[i] = "hit"
            elif fate[i] == "status":
                if k in keys_seen:
                    fate[i] = "sf"
                keys_seen.add(k)
    out["fate"] = fate
    return out


def renderable_once(drain) -> np.ndarray:
    """Rows certain to commit as ok/meta: not late, not in any duplicate
    group. These are the rows a backfill may re-submit as cache hits."""
    p = predict(drain.rows)
    dup_ids = p["clip_id"].duplicated(keep=False).to_numpy()
    return ((p["fate"] == "status") & p["status"].isin(RENDERED)).to_numpy() & ~dup_ids


def read_committed(out_dir: str, columns: list[str]) -> pd.DataFrame:
    """Committed rows of a sink directory (batches with a commit marker)."""
    commits = os.path.join(out_dir, "_commits")
    batches = sorted(int(x) for x in os.listdir(commits) if not x.endswith(".tmp"))
    frames = []
    for b in batches:
        path = os.path.join(out_dir, "data", f"batch_id={b}")
        t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)
        f = t.to_pandas()
        f["batch"] = b
        frames.append(f)
    if not frames:
        return pd.DataFrame(columns=columns + ["batch"])
    return pd.concat(frames, ignore_index=True)


def sink_metric_counts(out_dir: str) -> dict[int, dict[str, int]]:
    """The sink's own ``metrics/`` table: batch -> status -> rows."""
    base = os.path.join(out_dir, "metrics")
    out: dict[int, dict[str, int]] = {}
    if not os.path.isdir(base):
        return out
    for d in os.listdir(base):
        t = pq.read_table(os.path.join(base, d)).to_pandas()
        for b, s, n in zip(t["batch_id"], t["status"], t["n"]):
            out.setdefault(int(b), {}).setdefault(s, 0)
            out[int(b)][s] += int(n)
    return out


def verify_drain(checks: Checks, drain, out_dir: str, progress: list[dict],
                 cached_keys: set[str] | None, cache_result_keys: set[str] | None
                 ) -> dict:
    """Check one drain's committed output and reconcile every input row.
    Returns the reconciled outcome counts."""
    tag = drain.name
    pred = predict(drain.rows, cached_keys)
    got = read_committed(out_dir, ["clip_id", "ops", "status", "result_key", "ingest_ts"])
    # exactly-once: a clip id commits at most once per drain
    checks.check(not got["clip_id"].duplicated().any(), f"{tag}: a clip id committed twice")
    # match committed rows to input rows by (clip id, ops, event time)
    pred["ts_us"] = to_us(pred["ingest_ts"])
    got["ts_us"] = to_us(got["ingest_ts"])
    m = got.merge(pred, on=["clip_id", "ops", "ts_us"], how="left",
                  suffixes=("", "_in"), indicator=True)
    checks.check((m["_merge"] == "both").all(), f"{tag}: committed row with no input row")
    m = m[m["_merge"] == "both"]
    committed_fates = set(m["fate"])
    checks.check(committed_fates <= {"status", "dupgroup"},
                 f"{tag}: committed fates {sorted(committed_fates)}")
    checks.check((m["status"] == m["status_in"]).all(),
                 f"{tag}: {int((m['status'] != m['status_in']).sum())} status mismatches")
    checks.check((m["batch"] == m["batch_in"]).all(), f"{tag}: row committed by another batch")
    # every predicted survivor committed; one member of each same-batch group
    want = set(pred.loc[pred["fate"] == "status", "clip_id"])
    have = set(m["clip_id"])
    checks.check(want <= have, f"{tag}: {len(want - have)} predicted rows not committed")
    groups = set(pred.loc[pred["fate"] == "dupgroup", "clip_id"])
    checks.check(groups <= have, f"{tag}: {len(groups - have)} duplicate groups lost")
    if cache_result_keys is not None:
        again = set(got["result_key"]) & cache_result_keys
        checks.check(not again, f"{tag}: {len(again)} cache-hit keys committed again")

    # per-batch reconciliation against the engine's own counts
    n_group_losers = pred[pred["fate"] == "dupgroup"].groupby("batch")["clip_id"].agg(
        lambda s: len(s) - s.nunique())
    # predicted statuses per batch: every survivor's own, and for each
    # same-batch duplicate group the predicted status of the member that
    # committed (which member survives is the engine's choice)
    survivors = pd.concat([pred.loc[pred["fate"] == "status", ["batch", "status"]],
                           m.loc[m["fate"] == "dupgroup", ["batch_in", "status_in"]]
                           .set_axis(["batch", "status"], axis=1)])
    predicted_status = survivors.groupby(["batch", "status"]).size()
    sink_counts = sink_metric_counts(out_dir)
    totals = {k: 0 for k in ("input", "committed", "quarantined", "hit", "sf", "dup", "late")}
    admission = 0
    data_batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    checks.check(len(data_batches) == len(drain.files),
                 f"{tag}: {len(data_batches)} data batches for {len(drain.files)} files")
    for p in data_batches:
        b = int(p["batchId"])
        pb = pred[pred["batch"] == b]
        n_dup = int((pb["fate"] == "dup").sum()) + int(n_group_losers.get(b, 0))
        n_late = int((pb["fate"] == "late").sum())
        n_hit = int((pb["fate"] == "hit").sum())
        n_sf = int((pb["fate"] == "sf").sum())
        ops = p.get("stateOperators") or [{}]
        # progress counts every execution of the stateful subtree
        runs = [executions(o) for o in ops]
        eng_dup = sum(int((o.get("customMetrics") or {}).get("numDroppedDuplicateRows", 0)) / r
                      for o, r in zip(ops, runs))
        eng_late = sum(int(o.get("numRowsDroppedByWatermark", 0)) / r for o, r in zip(ops, runs))
        eng_status = sink_counts.get(b, {})
        eng_committed = sum(eng_status.values())
        checks.check(int(p["numInputRows"]) == len(pb), f"{tag}/{b}: input rows {p['numInputRows']} != {len(pb)}")
        checks.check(eng_dup == n_dup, f"{tag}/{b}: duplicates {eng_dup} != {n_dup}")
        checks.check(eng_late == n_late, f"{tag}/{b}: late {eng_late} != {n_late}")
        want_status = {s: int(n) for (bb, s), n in predicted_status.items() if bb == b}
        checks.check(eng_status == want_status, f"{tag}/{b}: sink metrics {eng_status} != predicted {want_status}")
        # what the engine dropped between dedup and the commit: cache
        # hits plus singleflight suppressions
        eng_skipped = int(p["numInputRows"]) - eng_dup - eng_late - eng_committed
        checks.check(eng_skipped == n_hit + n_sf, f"{tag}/{b}: skipped {eng_skipped} != {n_hit}+{n_sf}")
        quarantined = sum(n for s, n in eng_status.items() if s not in RENDERED)
        admission += sum(eng_status.get(s, 0) for s in ("not_found", "resolution_bomb"))
        totals["input"] += len(pb)
        totals["committed"] += eng_committed - quarantined
        totals["quarantined"] += quarantined
        totals["hit"] += n_hit
        totals["sf"] += n_sf
        totals["dup"] += n_dup
        totals["late"] += n_late
    accounted = sum(v for k, v in totals.items() if k != "input")
    checks.check(accounted == drain.n, f"{tag}: accounted {accounted} != input {drain.n}")
    totals["accounted"] = accounted
    totals["admission"] = admission
    return totals


def snr_db(ref: np.ndarray, out: np.ndarray) -> float:
    if ref.shape != out.shape:
        return float("-inf")
    noise = float(np.sum((ref.astype(np.float64) - out) ** 2))
    power = float(np.sum(ref.astype(np.float64) ** 2))
    if noise == 0.0:
        return float("inf")
    return 10.0 * np.log10(max(power, 1e-30) / noise)


def rerender_sample(checks: Checks, drain, out_dir: str, k: int, seed: int, assets) -> None:
    """Re-render a seeded sample of committed ``ok`` rows with the public
    ``audio.apply.process`` and compare payload (SNR) and transcript."""
    from imagor_spark.audio import apply as audio_apply
    from imagor_spark.audio import codecs
    from imagor_spark.imagorpath import parse

    got = read_committed(out_dir, ["clip_id", "ops", "status", "bytes", "transcript", "ingest_ts"])
    ok = got[got["status"] == "ok"]
    if ok.empty:
        checks.check(False, f"{drain.name}: no ok rows to re-render")
        return
    rng = np.random.default_rng([seed, 0x5A])
    pick = ok.iloc[np.sort(rng.choice(len(ok), size=min(k, len(ok)), replace=False))]
    rows = drain.rows
    where = dict(zip(zip(rows["clip_id"], rows["ops"], to_us(rows["ingest_ts"])), range(len(rows))))
    tables: dict[str, object] = {}
    for r, ts in zip(pick.itertuples(), to_us(pick["ingest_ts"])):
        src = rows.iloc[where[(r.clip_id, r.ops, ts)]]
        f = src["file"]
        if f not in tables:
            tables[f] = pq.read_table(f, columns=["bytes"]).column("bytes")
        payload = tables[f][int(src["pos"])].as_py()
        want, meta = audio_apply.process(payload, parse(r.ops), assets)
        ref, ref_sr, _ = codecs.decode(want)
        out, out_sr, _ = codecs.decode(r.bytes)
        db = snr_db(ref, out) if ref_sr == out_sr else float("-inf")
        checks.check(db >= SNR_MIN_DB, f"{drain.name}: {r.clip_id} SNR {db:.1f} dB")
        text = "" if meta.get("_strip_transcript") else src["transcript"] + meta.get("transcript_suffix", "")
        checks.check(text == r.transcript, f"{drain.name}: {r.clip_id} transcript differs")
