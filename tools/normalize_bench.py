"""Row-by-row host-burst normalization for sentinel-calibrated bench
artifacts (the adjudication VERDICT r13 #2 asked for).

Usage:
  python tools/normalize_bench.py NEW.json [OLD.json]

NEW.json must carry ``calibration.sentinel_sec`` (bench.py emits it
since round 14). With one file: prints each row next to its sentinel
and the row/sentinel ratio. With two files: prints per-row speedups
old→new twice — raw, and normalized by the NEW run's per-row sentinel
against the new run's median sentinel (a row whose sentinel was 2x
the run median was measured in a burst window; its normalized speedup
divides that burst out). Old files without sentinels are fine — only
the new run's calibration is used, since the question is always
"which of the NEW run's rows were burst-poisoned".

Accepts either bench.py's raw JSON line or the driver's BENCH_r*.json
wrapper (reads .parsed if present).
"""

from __future__ import annotations

import json
import math
import statistics
import sys


def load(path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    return d.get("parsed", d)


def main() -> int:
    new = load(sys.argv[1])
    cal = new.get("calibration", {})
    sent = cal.get("sentinel_sec")
    if not sent:
        print("NEW artifact carries no calibration.sentinel_sec", file=sys.stderr)
        return 1
    med = statistics.median(sent.values())
    print(
        f"run sentinel: median={med:.3f}s "
        f"min={min(sent.values()):.3f} max={max(sent.values()):.3f} "
        f"(effective_cores probe: {cal.get('effective_cores')})"
    )
    if len(sys.argv) > 2:
        old = load(sys.argv[2])
        rows = []
        for q, t_new in new["queries"].items():
            t_old = old.get("queries", {}).get(q)
            # skip rows with no old time, a non-positive time (no
            # speedup exists) or no positive sentinel to normalize by
            if t_old is None or t_old <= 0 or t_new <= 0 or sent.get(q, 0) <= 0:
                continue
            burst = sent[q] / med  # >1: this row measured in a burst
            rows.append((t_old / t_new, t_old / (t_new / burst), burst, q, t_old, t_new))
        if not rows:
            print("no common queries")
            return 1
        rows.sort()
        print(f"{'query':28s} {'old':>7s} {'new':>7s} {'raw':>6s} {'norm':>6s} {'burst':>6s}")
        for raw, norm, burst, q, t_old, t_new in rows:
            print(f"{q:28s} {t_old:7.3f} {t_new:7.3f} {raw:6.2f} {norm:6.2f} {burst:6.2f}")
        g_raw = math.exp(sum(math.log(r[0]) for r in rows) / len(rows))
        g_norm = math.exp(sum(math.log(r[1]) for r in rows) / len(rows))
        print(f"geomean speedup: raw={g_raw:.3f}  sentinel-normalized={g_norm:.3f}")
    else:
        print(f"{'query':28s} {'sec':>7s} {'sentinel':>8s} {'burst':>6s}")
        for q, t in sorted(new["queries"].items(), key=lambda kv: -kv[1]):
            if q not in sent:
                print(f"{q:28s} {t:7.3f} {'-':>8s} {'-':>6s}")
                continue
            print(f"{q:28s} {t:7.3f} {sent[q]:8.3f} {sent[q] / med:6.2f}")
    return 0


if __name__ == "__main__":
    try:
        raise SystemExit(main())
    except BrokenPipeError:  # piping into head is fine
        raise SystemExit(0) from None
