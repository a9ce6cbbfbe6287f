"""Cross-run bench blessing (round-14 verdict #3): the blessed
artifact a round ships must carry, per query, the MEDIAN across the
>=3 same-tree recordings — a single run's number, even a median-of-3
reps, can sit 2x above the cross-run truth when a hypervisor-steal
window covers all its reps (r14: q171 blessed at 5.68 s vs a 2.6 s
cross-run median; q161 7.20 vs 4.1). The in-run spread gate
(bench.REP_SPREAD_BAR) votes out single-rep bursts; THIS script is the
complement for uniformly-elevated whole runs.

Selection rule (round-16 verdict #3 — codified so a "best N of M"
pick cannot happen silently): the supported mode is

    python scripts/bless_bench.py --auto [--code-tree HASH]

which blesses EVERY bench_runs/bench_*.json recording of the target
code tree (default: the current HEAD's measured-code hash, the same
one bench.py stamps) whose ``sandbox_cal`` stamp lies inside the
pre-committed clean band ``CAL_BAND``. At least MIN_RUNS must
qualify. The artifact records the full candidate set and each
exclusion reason, so the selection is an audit trail, not an outcome
choice.

Hand-picking paths still works but now REQUIRES --force "<note>":
the note ships in the artifact under "forced" as provenance.

Writes bench_runs/blessed_<stamp>.json carrying per-query cross-run
medians, the per-run values (provenance — a reader can recompute), the
source filenames, and band flags for any query whose cross-run
max/min spread exceeds BAND (those rows are noise-suspect even after
medianing and must be annotated if quoted). Prints the compact JSON
line. Only query keys present in EVERY run are blessed; the rest are
reported under "unblessed" (e.g. a query added mid-round)."""

from __future__ import annotations

import datetime
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: cross-run max/min spread above which a blessed row is flagged
BAND = 1.5

#: pre-committed sandbox_cal acceptance band for --auto selection: it
#: holds every clean-window recording rounds 14-16 accepted, and none
#: of the degraded-day stamps that inflated totals. A recording
#: outside the band is excluded NO MATTER how good its total looks —
#: that is the point.
CAL_BAND = (0.30, 0.52)

#: --auto refuses to bless fewer than this many qualifying recordings
MIN_RUNS = 3


def _median(xs):
    s = sorted(xs)
    return s[len(s) // 2] if len(s) % 2 else (s[len(s) // 2 - 1] + s[len(s) // 2]) / 2


def bless(paths: list[str], selection: "dict | None" = None) -> dict:
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append(json.load(f))
    sfs = {r.get("sf") for r in runs}
    if len(sfs) != 1:
        raise SystemExit(f"refusing to bless across scale factors: {sfs}")
    trees = {r.get("code_tree") for r in runs if r.get("code_tree")}
    if len(trees) > 1:
        raise SystemExit(f"refusing to bless across code trees: {trees}")
    keysets = [set(r["queries"]) for r in runs]
    common = set.intersection(*keysets)
    unblessed = sorted(set.union(*keysets) - common)
    per_query = {
        q: [r["queries"][q] for r in runs] for q in sorted(common)
    }
    blessed = {q: round(_median(vs), 3) for q, vs in per_query.items()}
    flags = {
        q: round(max(vs) / min(vs), 2)
        for q, vs in per_query.items()
        if min(vs) > 0 and max(vs) / min(vs) > BAND
    }
    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(blessed.values()), 3),
        "unit": "sec",
        "queries": blessed,
        "sf": sfs.pop(),
        "aggregation": f"cross-run-median-of-{len(runs)}-run-medians",
        "runs": [os.path.basename(p) for p in paths],
        "sandbox_cal": [r.get("sandbox_cal") for r in runs],
        "code_tree": (trees.pop() if trees else None),
        "per_query": per_query,
        "band_flags": flags,
        "band": BAND,
        "unblessed": unblessed,
    }
    if selection is not None:
        out["selection"] = selection
    return out


def auto_select(run_dir: str, code_tree: "str | None") -> tuple[list[str], dict]:
    """Apply the pre-committed rule: all recordings of ``code_tree``
    with cal stamp inside CAL_BAND. Returns (paths, selection_record);
    raises SystemExit when fewer than MIN_RUNS qualify."""
    if code_tree is None:
        from bench import _code_tree

        code_tree = _code_tree()
        if code_tree is None:
            raise SystemExit("--auto needs a resolvable code tree (git HEAD)")
    chosen: list[str] = []
    excluded: dict[str, str] = {}
    for p in sorted(glob.glob(os.path.join(run_dir, "bench_*.json"))):
        name = os.path.basename(p)
        try:
            with open(p) as f:
                rec = json.load(f)
        except (OSError, ValueError) as e:
            excluded[name] = f"unreadable: {e}"
            continue
        if rec.get("code_tree") != code_tree:
            excluded[name] = f"code_tree {str(rec.get('code_tree'))[:12]} != target"
            continue
        cal = rec.get("sandbox_cal")
        if not isinstance(cal, (int, float)):
            excluded[name] = "no sandbox_cal stamp"
            continue
        if not (CAL_BAND[0] <= cal <= CAL_BAND[1]):
            excluded[name] = f"cal {cal} outside band {list(CAL_BAND)}"
            continue
        chosen.append(p)
    selection = {
        "mode": "auto",
        "cal_band": list(CAL_BAND),
        "min_runs": MIN_RUNS,
        "code_tree": code_tree,
        "considered": len(chosen) + len(excluded),
        "excluded": excluded,
    }
    if len(chosen) < MIN_RUNS:
        raise SystemExit(
            f"--auto: only {len(chosen)} qualifying recordings "
            f"(need {MIN_RUNS}). Excluded: {json.dumps(excluded, indent=1)}"
        )
    return chosen, selection


def main() -> None:
    argv = sys.argv[1:]
    run_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench_runs"
    )
    if "--auto" in argv:
        argv.remove("--auto")
        code_tree = None
        if "--code-tree" in argv:
            i = argv.index("--code-tree")
            code_tree = argv[i + 1]
            del argv[i : i + 2]
        if argv:
            raise SystemExit(f"--auto takes no paths (got {argv})")
        paths, selection = auto_select(run_dir, code_tree)
        print(
            f"# auto-selected {len(paths)} recordings: "
            f"{[os.path.basename(p) for p in paths]}",
            file=sys.stderr,
        )
    else:
        # hand-picked paths: legitimate only with provenance (e.g. a
        # one-off A/B where the auto rule cannot apply) — the forced
        # note ships in the artifact so the pick is never silent
        if "--force" not in argv:
            raise SystemExit(
                "hand-picked blessing requires --force \"<why these runs>\" "
                "(round-16 verdict #3); the supported mode is --auto"
            )
        i = argv.index("--force")
        note = argv[i + 1]
        del argv[i : i + 2]
        paths = argv
        if len(paths) < 2:
            raise SystemExit("need >=2 bench_runs artifacts to bless across")
        selection = {"mode": "forced", "note": note}
    out = bless(paths, selection)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%SZ")
    dest = os.path.join(run_dir, f"blessed_{stamp}.json")
    with open(dest, "w") as f:
        f.write(json.dumps(out) + "\n")
    compact = {k: v for k, v in out.items() if k not in ("per_query", "selection")}
    compact["file"] = os.path.relpath(dest, os.path.dirname(run_dir))
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
