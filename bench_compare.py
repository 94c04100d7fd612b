"""Round-over-round bench regression report.

Compares two BENCH_LOCAL_r*.json artifacts (written by
``SPARK_GRAFT_BENCH_ALL=1 python bench.py``) and prints per-query moves
beyond a threshold, plus the added/removed query sets — the 30-second
answer to "did anything actually regress this round, or is it the usual
sub-second noise band".

Usage:
    python bench_compare.py BENCH_LOCAL_r06.json BENCH_LOCAL_r07.json \
        [--threshold 0.3] [--min-sec 0.5]

When both artifacts carry ``jobs_queries`` (Spark jobs of each query's
last rep), every common query whose job count changed is listed, and a
time mover whose job count is unchanged is printed as ``noise-suspect``
instead of REGRESSED or improved: a move with the same work is more likely
host noise than a code change. When both also carry ``compiles_queries``
(generated classes compiled in the last rep), a mover is noise-suspect
only if that count is unchanged too.

Queries faster than ``--min-sec`` in BOTH rounds are suppressed by
default: their round-to-round variance routinely exceeds any real
effect (codegen/GC jitter dominates under ~0.5 s on local[32]), which
is exactly the noise band previous rounds' verdicts kept re-flagging.
Exit code is 0 always — this is a report, not a gate.
"""

from __future__ import annotations

import argparse
import json


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=0.3,
                    help="relative move to report (0.3 = ±30%%)")
    ap.add_argument("--min-sec", type=float, default=0.5,
                    help="suppress queries below this in both rounds")
    args = ap.parse_args(argv)

    def _load(path: str) -> dict:
        """Accept either a BENCH_LOCAL_r*.json (full payload) or a
        driver-recorded BENCH_r*.json ({tail, parsed}) — the round-12
        stdout line carries the same instrumentation, with per-query
        spreads as an array ALIGNED to the queries map's order."""
        d = json.load(open(path))
        if "parsed" in d and isinstance(d["parsed"], dict):
            d = d["parsed"]
        if "spreads" in d and "spread_queries" not in d:
            d["spread_queries"] = dict(zip(d["queries"], d["spreads"]))
        return d

    a = _load(args.old)
    b = _load(args.new)
    qa, qb = a["queries"], b["queries"]
    common = sorted(set(qa) & set(qb))

    print(f"old: {args.old}  total={a['value']}s  n={len(qa)}")
    print(f"new: {args.new}  total={b['value']}s  n={len(qb)}")
    both_total_old = round(sum(qa[q] for q in common), 2)
    both_total_new = round(sum(qb[q] for q in common), 2)
    print(
        f"common {len(common)} queries: {both_total_old}s -> "
        f"{both_total_new}s "
        f"({(both_total_new / both_total_old - 1) * 100:+.1f}%)"
    )
    # host-speed drift adjustment: when both artifacts carry the fixed
    # calibration job's time, normalize the new total by the host-speed
    # ratio — identical code has measured 5-25% total swings between
    # sessions on this microVM, which raw totals misreport as code moves
    # prefer the interleaved calibration series' median when an artifact
    # carries one (round 11): it samples the same ~25-minute load window
    # the queries ran under, where the one-shot calib samples a single
    # instant (measured swinging +46%→+116% between same-code runs)
    ca = a.get("calib_series_median") or a.get("calib_sec")
    cb = b.get("calib_series_median") or b.get("calib_sec")
    if ca and cb:
        ratio = cb / ca
        adj = round(both_total_new / ratio, 2)
        print(
            f"calib(cpu): {ca}s -> {cb}s (host {ratio - 1:+.1%} vs old); "
            f"cpu-adjusted common total: {adj}s "
            f"({(adj / both_total_old - 1) * 100:+.1f}%)"
        )
    # shuffle-axis drift (round 9): the r8 verdict showed untouched
    # shuffle-heavy queries drifting 30-50% while the CPU calib moved
    # ~11% — the two axes drift independently on this microVM, so both
    # ratios plus their mean are reported; the blend is the headline
    # because the suite mixes CPU-bound and shuffle-bound queries.
    sa, sb = a.get("calib_shuffle_sec"), b.get("calib_shuffle_sec")
    if sa and sb:
        sratio = sb / sa
        sadj = round(both_total_new / sratio, 2)
        print(
            f"calib(shuffle): {sa}s -> {sb}s (host {sratio - 1:+.1%}); "
            f"shuffle-adjusted common total: {sadj}s "
            f"({(sadj / both_total_old - 1) * 100:+.1f}%)"
        )
        if ca and cb:
            blend = (ratio + sratio) / 2.0
            badj = round(both_total_new / blend, 2)
            print(
                f"calib(blend {blend - 1:+.1%}): blend-adjusted common "
                f"total: {badj}s "
                f"({(badj / both_total_old - 1) * 100:+.1f}%)"
            )
    # raw + calib-adjusted GEOMEAN of per-query speedups (r14, verdict
    # Next #9): the round-over-round verdicts reverse-engineered host
    # drift from the calib scalars by hand — report both numbers here so
    # the comparison is self-contained. Speedup convention: old/new > 1
    # means the new round is faster.
    import math

    ratios = [qa[q] / qb[q] for q in common if qa[q] > 0 and qb[q] > 0]
    if ratios:
        geo = math.exp(sum(math.log(r) for r in ratios) / len(ratios))
        line = f"geomean speedup (old/new, {len(ratios)} common): {geo:.3f}x"
        if ca and cb and sa and sb:
            blend = ((cb / ca) + (sb / sa)) / 2.0
            line += f"; blend-calib-adjusted: {geo * blend:.3f}x"
        print(line)
    added = sorted(set(qb) - set(qa))
    removed = sorted(set(qa) - set(qb))
    if added:
        print(f"added ({len(added)}): "
              + ", ".join(f"{q}={qb[q]}s" for q in added))
    if removed:
        print(f"removed ({len(removed)}): " + ", ".join(removed))

    ja, jb = a.get("jobs_queries"), b.get("jobs_queries")
    if ja and jb:
        both = [q for q in common if q in ja and q in jb]
        changed = [q for q in both if ja[q] != jb[q]]
        print(
            f"jobs: {sum(ja[q] for q in both)} -> {sum(jb[q] for q in both)} "
            f"over {len(both)} queries; {len(changed)} changed"
        )
        for q in changed:
            print(f"  jobs      {q:32s} {ja[q]:4d} -> {jb[q]:4d} ({jb[q] - ja[q]:+d})")
    ka, kb = a.get("compiles_queries"), b.get("compiles_queries")
    if ka and kb:
        both = [q for q in common if q in ka and q in kb]
        print(
            f"compiles: {sum(ka[q] for q in both)} -> {sum(kb[q] for q in both)} "
            f"over {len(both)} queries; "
            f"{sum(ka[q] != kb[q] for q in both)} changed"
        )

    def same_work(q: str) -> bool:
        """Both artifacts count q's jobs (and compiles, when both carry
        them) and no count moved."""
        if not (ja and jb and q in ja and q in jb) or ja[q] != jb[q]:
            return False
        return not (ka and kb and q in ka and q in kb) or ka[q] == kb[q]

    # noise-bar suppression (round 11): artifacts written by the current
    # bench.py carry per-query steady-rep spreads (max − min of the 2-3
    # reps). A mover whose |delta| sits inside the SUM of the two
    # rounds' spreads is same-code scheduler noise by the artifacts' own
    # measurement (the r10 dedup_clusters 2.74↔6.30 s case) — reported
    # separately, never as a regression.
    spa = a.get("spread_queries", {})
    spb = b.get("spread_queries", {})
    moves = []
    noise = []
    for q in common:
        o, n = qa[q], qb[q]
        if max(o, n) < args.min_sec:
            continue
        rel = n / o - 1 if o > 0 else float("inf")
        if abs(rel) >= args.threshold:
            bar = spa.get(q, 0.0) + spb.get(q, 0.0)
            if (q in spa or q in spb) and abs(n - o) <= bar:
                noise.append((rel, q, o, n, bar))
            else:
                moves.append((rel, q, o, n))
    if not moves:
        print(f"no moves beyond ±{args.threshold:.0%} "
              f"(>{args.min_sec}s queries)")
    for rel, q, o, n in sorted(moves, key=lambda t: -abs(t[0])):
        tag = "noise-suspect" if same_work(q) else "REGRESSED" if rel > 0 else "improved"
        print(f"  {tag:13s} {q:32s} {o:7.3f}s -> {n:7.3f}s ({rel:+.0%})")
    for rel, q, o, n, bar in sorted(noise, key=lambda t: -abs(t[0])):
        print(f"  {'noise':13s} {q:32s} {o:7.3f}s -> {n:7.3f}s ({rel:+.0%}) "
              f"within spread bar {bar:.3f}s")


if __name__ == "__main__":
    main()
