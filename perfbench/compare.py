"""Compare two sets of benchmark run records, workload by workload.

    python3 perfbench/compare.py SET_A --vs SET_B

Each set is a directory of run records (``run.py`` writes them to
``.perfbench/results/``) or a list of record files. Untraced runs are
compared on every end-to-end metric of ``BENCHMARK.json``; for each
set the table gives the run count, median, quartiles and spread
(distance between the quartiles over the median), and then the change
of B's median against A's. The sets agree on a metric when the median
moved by no more than the metric's bound either way and each set's
spread is within the bound. Each set's host steal and
CPU used outside the benchmark, summed over its runs, are printed
beside it, so that a set made while the host was busy shows.

The exit code is 0 when the sets agree on every metric, 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import sys
from dataclasses import dataclass
from pathlib import Path

import stats

ROOT = Path(__file__).resolve().parent.parent


@dataclass(frozen=True)
class Summary:
    n: int
    q1: float
    median: float
    q3: float
    spread: float


def summarize(values: list[float]) -> Summary:
    if len(values) < 2:
        v = values[0]
        return Summary(len(values), v, v, v, 0.0)
    q1, q2, q3 = stats.quartiles(values)
    return Summary(len(values), q1, q2, q3, stats.spread(values))


def load(paths: list[str]) -> list[dict]:
    files: list[Path] = []
    for p in map(Path, paths):
        files.extend(sorted(p.glob("*.json")) if p.is_dir() else [p])
    return [json.loads(f.read_text()) for f in files]


def by_workload(records: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in records:
        if r["stamp"]["trace"] == 0:
            out.setdefault(r["stamp"]["workload"], []).append(r)
    return out


def compare_metric(a: list[float], b: list[float], spec: dict) -> dict:
    sa, sb = summarize(a), summarize(b)
    bound = spec["bound"]
    change = (sb.median - sa.median) / sa.median
    spreads_ok = sa.spread <= bound and sb.spread <= bound
    return {
        "metric": spec["name"],
        "unit": spec["unit"],
        "bound": bound,
        "a": sa.__dict__,
        "b": sb.__dict__,
        "change": change,
        "agree": abs(change) <= bound and spreads_ok,
    }


def host(records: list[dict]) -> dict[str, float]:
    return {
        k: sum(r["host"][k] for r in records) for k in ("steal_s", "other_cpu_s")
    }


def compare(set_a: list[dict], set_b: list[dict], bench: dict) -> dict:
    wa, wb = by_workload(set_a), by_workload(set_b)
    out = {}
    for w in sorted(set(wa) & set(wb)):
        rows = []
        for spec in bench["end_to_end"]:
            name = spec["name"]
            a = [r["result"]["metrics"][name]["value"] for r in wa[w]]
            b = [r["result"]["metrics"][name]["value"] for r in wb[w]]
            rows.append(compare_metric(a, b, spec))
        out[w] = {
            "host_a": host(wa[w]),
            "host_b": host(wb[w]),
            "failed": [sum(r["result"]["failed"] for r in wa[w]),
                       sum(r["result"]["failed"] for r in wb[w])],
            "metrics": rows,
        }
    return out


def print_table(result: dict) -> None:
    for w, res in result.items():
        ha, hb = res["host_a"], res["host_b"]
        print(
            f"{w}: failed A={res['failed'][0]} B={res['failed'][1]}; "
            f"host steal A={ha['steal_s']:.1f}s B={hb['steal_s']:.1f}s, "
            f"other CPU A={ha['other_cpu_s']:.1f}s B={hb['other_cpu_s']:.1f}s"
        )
        print(f"  {'metric':<12} {'bound':>5}  {'A n median [q1, q3] spread':<40}"
              f"{'B n median [q1, q3] spread':<40} {'change':>7}  agree")
        for m in res["metrics"]:
            cells = [
                f"{s['n']:>2} {s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] "
                f"{s['spread']:.3f}"
                for s in (m["a"], m["b"])
            ]
            print(f"  {m['metric']:<12} {m['bound']:>5}  {cells[0]:<40}{cells[1]:<40}"
                  f" {m['change']:>+7.3f}  {'yes' if m['agree'] else 'NO'}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("set_a", nargs="+", help="directory or record files of set A")
    ap.add_argument("--vs", nargs="+", required=True, dest="set_b",
                    help="directory or record files of set B")
    args = ap.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    result = compare(load(args.set_a), load(args.set_b), bench)
    print_table(result)
    agree = all(m["agree"] for res in result.values() for m in res["metrics"])
    return 0 if result and agree else 1


if __name__ == "__main__":
    sys.exit(main())
