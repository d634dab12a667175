"""Turning one run's raw results into the benchmark's metrics."""
import json
import math
import os

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              os.pardir, "BENCHMARK.json")


def percentile(values, pct):
    """Linear-interpolated percentile (numpy's default method)."""
    v = sorted(values)
    if not v:
        return float("nan")
    x = (len(v) - 1) * pct / 100.0
    lo = math.floor(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def supported_tail(values, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it, as (percentile, value, sample count); percentile is None
    when there are too few samples for any."""
    n = len(values)
    if n <= beyond:
        return None, None, n
    k = n - beyond                      # k-th smallest has n-k samples above
    return 100.0 * k / n, sorted(values)[k - 1], n


def declared():
    with open(BENCHMARK_JSON) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def end_to_end(setup_s, results, measured_s, heap_peak_mb, failed, attempted,
               write_amp=1.0, space_amp=1.0):
    """Untraced-run metrics.  `results` are the run's op records; those of
    kind "untimed" ran before the measured window and are left out.
    Reads and queries make the latency distribution."""
    timed = [r for r in results if r["kind"] != "untimed"]
    q = [r["ms"] for r in timed if r["kind"] in ("query", "read")]
    setups = sorted(setup_s)
    return {
        "setup_s": setups[len(setups) // 2],
        "ops_per_s": len(timed) / measured_s,
        "query_p50_ms": percentile(q, 50),
        "query_p90_ms": percentile(q, 90),
        "ok_frac": 1.0 - failed / attempted,
        "heap_peak_mb": heap_peak_mb,
        "write_amp": write_amp,
        "space_amp": space_amp,
    }


def per_layer(layers, storage):
    """Traced-run metrics: the harness's layer summary, the DML statement
    spans by kind, and the storage layer's file counts.  Workloads without
    writes or SQL text have no such spans or files, so those read 0."""
    out = dict(layers)
    for k in ("insert", "update", "delete", "upsert"):
        out[f"sources.{k}_ms"] = layers.get(f"span.sources_{k}_ms", 0.0)
    out["sql.translate_ms"] = layers.get("span.sql_translate_ms", 0.0)
    for k in ("sources.files_written", "sources.rows_rewritten_per_row_changed",
              "sources.manifest_files_end"):
        out[k] = storage.get(k, 0.0)
    return out


def render(values, units):
    """{name: {"value", "unit"}} for every declared metric, in order; a
    metric the run did not produce is an error, never a silent gap."""
    missing = [k for k in units if k not in values]
    if missing:
        raise KeyError(f"metrics not produced: {missing}")
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}
