#!/usr/bin/env python
"""Per-layer profile of registry entries: each named
`__spark_entry__.queries()` key is called once and materialized
(bench.py's noop write) under the benchmark's `perfbench/tracing.Tracer`.
One row per key goes to stdout, then one JSON line
{"master", "sf_dir", "keys": {key: {metric: value}}} holding every
`tracing.OP_METRICS` value and `wall_s` (the call plus the write).

    python scripts/layer_profile.py [--explain FILE.md] [key ...]

With no keys it profiles bench.py's BENCH_QUERIES. `--explain` also
writes each key's `explain("formatted")` plan (taken before the write)
as markdown, its run-specific ids (expression `#n`, `plan_id=`,
`RDD[n]`) renumbered in order of first appearance, so two runs of one
tree write the same file; with no keys it profiles the PLAN_NOTES keys,
and

    python scripts/layer_profile.py --explain docs/PLANS.md

regenerates docs/PLANS.md. FILE is always rewritten whole, so
`--explain FILE.md key ...` leaves only those keys' plans in it, and
every plan costs the full query run. The SF directory comes from
SPARK_GRAFT_SF_DIR (default sf0.1), the core count from SPARK_GRAFT_CPUS.
Each key runs once, and the first rows also pay the session's warm-up:
compare walls only between runs of the same key order; job, stage and
task counts do not depend on it.

Jobs are counted by Spark's global job counter between the start of
the call and the end of the write, so every job the key causes is
attributed to it: a job group would miss Structured Streaming
micro-batch jobs, which run in their stream's own group.
"""

from __future__ import annotations

import argparse
import functools
import io
import json
import os
import re
import subprocess
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from __spark_entry__ import queries  # noqa: E402
from bench import BENCH_QUERIES, SF_DIR, materialize  # noqa: E402
from herodb_spark.session import get_spark  # noqa: E402
from perfbench.tracing import OP_METRICS, Tracer  # noqa: E402

#: what each plan in docs/PLANS.md is expected to show; a key's section
#: title is "key (note)"
PLAN_NOTES = {
    "tpch_q1": "scan-heavy agg: expect parquet PushedFilters + partial HashAggregate",
    "tpch_q3": "expect BroadcastHashJoin on customer, shuffle join on orderkey",
    "tpch_q5": "all dims broadcast; single fact-fact shuffle",
    "rel_scan_filter_project": "expect pushdown + pruned ReadSchema",
    "dedup_minhash_lsh": "expect exploded partial aggregation, no cross join",
    "ann_bruteforce_topk": "expect BroadcastNestedLoopJoin, corpus never shuffles",
    "dedup_embedding_lsh_pairs": "expect NO join and NO distinct: Arrow signature pass, pinned bucket exchange, in-bucket pandas verify; 3 exchanges total",
    "incremental_mv_refresh": "expect date PushedFilters on BOTH the MV and the delta scan",
    "label_centroids": "expect posexplode + two-phase HashAggregate on decimal sums; no pandas",
    "class_hierarchy": "expect BroadcastHashJoin of the subtype closure against the instance scan",
    "dedup_span_maximal": "expect ONE gram-key exchange for the dup index + per-doc window; no docs-squared join",
    "text_unigram_logprob": "expect ZERO parquet scans downstream: the checkpointed token frame feeds vocab AND scoring — corpus tokenized once",
    "dedup_fuzzy_levenshtein": "expect equi-join on the block key + bounded levenshtein; no cartesian",
    "dedup_tfidf_cosine": "expect token-key equi-join inverted index (a.t = b.t) + bigint partial aggregates; NO cartesian, NO float sums",
    "text_nb_classifier": "expect token-keyed model join — NOT broadcast — + decimal partial aggregates + a 5-row-per-doc window argmax",
    "events_funnel": "expect three user-keyed partial min-aggregates joined back; NO window over the raw event log",
    "export_chunk_documents": "expect ONE tokenize + sequence-explode per row; work ∝ chunks, no token-row window",
    "traindata_pps_sample": "expect ONE scan + codegen filter — exact-integer md5 threshold, no shuffle before the presentation sort",
    "text_bm25_topk": "expect scan-level term filter, broadcast df/stats, TakeOrderedAndProject — NO global sort, NO full-set window",
    "text_filter_cascade": "expect zero-shuffle higher-order array signals; only the 4-row waterfall aggregates",
    "events_attribution": "expect user-keyed time-bounded join + ONE purchase-keyed min/max-struct aggregate; no window over the raw log",
    "dedup_incremental_minhash": "expect new-bands x old-bands band-bucket join — work ∝ the delta, no cross join",
    "rel_range_join_bucketed": "r11; expect BroadcastHashJoin ON THE BUCKET KEY with the range filter as join condition — NO BroadcastNestedLoopJoin",
    "corpus_domain_cap": "r11; expect two-phase per-source rank: (source, partition-id) window then the global per-source window over survivors",
    "events_anomaly": "r11; expect ONE map-side-combined (type, hour) aggregate, the rolling window only on the bucket relation",
    "mixture_temperature": "r11; expect one |sources|-row aggregate + broadcast rate join + codegen scan filter — no extra shuffle",
    "events_rolling_actives": "r11; expect (user, day) dedupe + explode onto <=7 buckets + map-side-combined counts; NO day-by-day self-join",
    "text_keywords": "r11; expect token-keyed tf/df aggregates + per-doc window over the doc's own terms; nothing quadratic",
    "dedup_split_leakage": "r11; expect train-bands x val-bands band-bucket join — work ∝ the validation share, no cross join",
    "heroql_outquery": "r12; output-argument functions INLINED: expect Square/Quartic as pure Project expressions over the one nation scan — no UDF, no join, no extra exchange",
    "ann_ivfpq_topk": "r12; expect broadcast centroid probe + cell-keyed join against the CODES-ONLY index + ADC as codegen array lookups; the full-precision column only in the final |Q|*K*overfetch rerank",
    "heroql_rules": "compiled FROM HeroQL SOURCE; expect BroadcastHashJoin(LeftAnti) for `not`, nation broadcast for the deref, no Python nodes",
    "heroql_pipeline": "compiled FROM HeroQL SOURCE; expect one window pass for top-k, partial HashAggregate for group_by, single-partition window only for the final range_by",
    "heroql_at_dialect": "r13; README @-commands: the GLOBAL Top10 rank must show the SPARK_PARTITION_ID pre-prune window BEFORE the single-partition global window — the table never funnels through one task unpruned; per-student legs are ordinary partitioned windows",
    "heroql_package": "r13; data packages: the SF-scaled hot leg is customer ⋈ semi(orders) ⋈ broadcast(nation) + partial HashAggregate per nation — the package/visibility layer adds ZERO plan nodes; inst/guard legs are constant-cardinality unions",
    "symtab_resolve": "draft_type:115-341; expect the materialized scope-chain walk feeding two shuffled joins + min_by aggregation — no driver loops, no Python nodes",
}

METRICS = OP_METRICS + ["wall_s"]
#: run-specific ids of a formatted plan: (prefix)(number)
RUN_IDS = (r"(#)(\d+)", r"(plan_id=)(\d+)", r"(RDD\[)(\d+)")
HEADER = (
    f"{'key':28s} {'wall_s':>7s} | {'call_s':>7s} {'jobs':>5s} {'ckpts':>5s} {'batch':>5s} | "
    f"{'plan_ms':>7s} | {'jobs':>5s} {'stages':>6s} {'tasks':>6s} | "
    f"{'task_s':>7s} {'shuf_mb':>7s} {'spill':>6s} {'gc_s':>5s} {'skew':>5s}\n"
    f"{'':28s} {'':7s} | {'layer 1: operator call':25s} | {'layer 2':7s} | "
    f"{'layer 3: execution':19s} | layer 4: inside execution"
)


def row(key: str, m: dict) -> str:
    plan_ms = sum(m[f"spark.catalyst.{p}_ms"] for p in ("analysis", "optimization", "planning"))
    shuffle_mb = m["spark.exec.shuffle_read_mb"] + m["spark.exec.shuffle_write_mb"]
    return (
        f"{key:28s} {m['wall_s']:7.2f} | {m['operators.call_s']:7.2f} "
        f"{m['operators.call_jobs']:5.0f} {m['session.checkpoints']:5.0f} "
        f"{m['streaming.batches']:5.0f} | {plan_ms:7.0f} | {m['spark.exec.jobs']:5.0f} "
        f"{m['spark.exec.stages']:6.0f} {m['spark.exec.tasks']:6.0f} | "
        f"{m['spark.exec.task_run_s']:7.2f} {shuffle_mb:7.2f} {m['spark.exec.spill_mb']:6.1f} "
        f"{m['spark.exec.gc_s']:5.2f} {m['spark.exec.max_over_median_task']:5.1f}"
    )


def renumber(plan: str) -> str:
    """Number each kind of RUN_IDS 1, 2, ... in order of first appearance."""
    for pat in RUN_IDS:
        ids: dict[str, int] = {}
        plan = re.sub(pat, lambda m: m.group(1) + str(ids.setdefault(m.group(2), len(ids) + 1)), plan)
    return plan


def profile_key(tracer: Tracer, call, explain: bool = False) -> tuple[dict, str | None]:
    """Run one zero-argument registry call and its noop write as one
    traced op: (metric -> value for every METRICS key, the formatted
    plan or None). The exec metrics are collected at once, while the
    status store still holds the op's jobs."""
    plan = None
    rec = tracer.begin()
    try:
        t0 = time.perf_counter()
        df = call()
        rec["operators.call_s"] = time.perf_counter() - t0
        tracer.after_call(rec, df)
        if explain:
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = renumber(buf.getvalue().strip())
        t1 = time.perf_counter()
        materialize(df)
        rec["wall_s"] = rec["operators.call_s"] + time.perf_counter() - t1
    finally:
        tracer.end(rec)
    tracer.collect_exec([rec])
    return {k: rec.get(k, 0.0) for k in METRICS}, plan


def plans_markdown(plans: dict[str, str]) -> str:
    out = ["# Headline query plans (auto-generated by scripts/layer_profile.py --explain)\n"]
    for key, plan in plans.items():
        title = f"{key} ({PLAN_NOTES[key]})" if key in PLAN_NOTES else key
        out.append(f"## {title}\n\n```\n{plan}\n```\n")
    return "\n".join(out)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--explain", metavar="FILE.md",
                    help="also write each key's formatted plan to this markdown file")
    ap.add_argument("keys", nargs="*", metavar="key", help="registry keys (default: bench.py's)")
    args = ap.parse_args(argv)

    registry = queries()
    keys = args.keys or list(PLAN_NOTES if args.explain else BENCH_QUERIES)
    unknown = [k for k in keys if k not in registry]
    if unknown:
        sys.exit(f"not registry keys: {', '.join(unknown)}")

    # Spark's Python workers import herodb_spark by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    try:
        tracer = Tracer(spark)
        tracer.install()
        tracer.enabled = True
        profiles, plans = {}, {}
        print(HEADER, flush=True)
        for key in keys:
            profiles[key], plans[key] = profile_key(
                tracer, functools.partial(registry[key], spark, SF_DIR), bool(args.explain))
            print(row(key, profiles[key]), flush=True)
        master = spark.sparkContext.master
    finally:
        spark.stop()
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if args.explain:
        with open(args.explain, "w") as f:
            f.write(plans_markdown(plans))
        print(f"wrote {args.explain}")
    print(json.dumps({"master": master, "sf_dir": SF_DIR, "keys": profiles}))


if __name__ == "__main__":
    main()
