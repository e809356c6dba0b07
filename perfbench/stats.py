"""End-to-end metrics from the raw timings `perfbench.Main` records.

Every workload reports the same metrics over its own operations: a
catalog query, a CDC cycle or a served request.
"""
import math
import statistics

# percentiles tried for the tail, highest first
TAIL_LEVELS = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def tail_level(n: int) -> int:
    """The highest percentile in TAIL_LEVELS with at least MIN_BEYOND of
    `n` samples beyond it; 50 (the median) when none has."""
    for p in TAIL_LEVELS:
        if n * (100 - p) / 100 >= MIN_BEYOND:
            return p
    return 50


def percentile(xs, p: float) -> float:
    """Linear-interpolated percentile (numpy's default definition)."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    k = (len(s) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def per_kind_medians(ops) -> dict:
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["seconds"])
    return {k: statistics.median(v) for k, v in sorted(kinds.items())}


def end_to_end(raw: dict) -> dict:
    """The BENCHMARK.json end-to-end metrics, as {name: (value, unit)}."""
    kinds = per_kind_medians(raw["ops"])
    setup = raw["session_start_s"] + raw["setup_s"]
    return {
        "setup_s": (setup, "s"),
        "mix_total_s": (sum(kinds.values()), "s"),
        "mix_geomean_ms": (math.exp(statistics.fmean(
            math.log(v) for v in kinds.values())) * 1e3, "ms"),
        "ops_per_s": (len(raw["ops"]) / raw["window_s"], "1/s"),
    }


def workload_view(workload: str, raw: dict, rows_per_cycle=None) -> dict:
    """The headline numbers under the workload's own names, as
    {name: (value, unit)}."""
    lat = [o["seconds"] for o in raw["ops"]]
    m = {k: v for k, (v, _) in end_to_end(raw).items()}
    p50 = statistics.median(lat)
    if workload == "catalog_mix":
        return {"catalog_total_s": (m["mix_total_s"], "s"),
                "catalog_geomean_s": (m["mix_geomean_ms"] / 1e3, "s")}
    if workload == "cdc_loop":
        return {"cycle_p50_s": (p50, "s"),
                "cycle_rows_per_s": ((rows_per_cycle or 0) / p50, "rows/s")}
    tail = tail_level(len(lat))
    return {"serve_p50_ms": (p50 * 1e3, "ms"),
            f"serve_p{tail}_ms": (percentile(lat, tail) * 1e3, "ms"),
            "serve_rps": (m["ops_per_s"], "req/s")}
