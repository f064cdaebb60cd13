#!/usr/bin/env python
"""Dump .explain("formatted") for the optimization-target queries
into <round_dir>/<query>_<tag>.txt (tag = before|after). Explain only —
no jobs run, except where a query function itself executes eager
fixture work (snapshot_lifecycle, stream_window_aggs), whose returned
leg-union plan is still the honest final plan.

Usage: python scripts/plans_dump.py <round_dir> <before|after> [query ...]
e.g.   python scripts/plans_dump.py plans/r14 after graph_pagerank
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from herodb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _queries():
    from herodb_spark.operators import dedup as D
    from herodb_spark.operators import graphops as G
    from herodb_spark.operators import olap as O
    from herodb_spark.operators import similarity as S
    from herodb_spark.operators import streamops as ST
    from herodb_spark.operators import symtab as SY
    from herodb_spark.operators import textops as X
    from herodb_spark.operators import traindata as TD
    from herodb_spark.graph import extra_algos as GX
    from herodb_spark.operators.lifecycle import snapshot_lifecycle
    from herodb_spark.plans import tpch

    return {
        "tpch_q1": tpch.q1_pricing_summary,
        "tpch_q3": tpch.q3_shipping_priority,
        "tpch_q5": tpch.q5_local_supplier_volume,
        "tpch_q18": tpch.q18_large_volume_customer,
        "dedup_minhash_lsh": D.minhash_lsh_pairs,
        "dedup_embedding_lsh_pairs": D.embedding_lsh_pairs,
        "ann_bruteforce_topk": S.ann_bruteforce_topk,
        "graph_pagerank": G.graph_pagerank,
        "stream_sessionize": ST.stream_sessionize,
        "symtab_resolve": SY.symtab_resolve,
        "dedup_cluster_canonical": D.dedup_cluster_canonical,
        "dedup_span_maximal": TD.dedup_span_maximal,
        "events_funnel": O.events_funnel,
        "events_retention": O.events_retention,
        "events_attribution": O.events_attribution,
        "traindata_pps_sample": TD.traindata_pps_sample,
        "text_filter_cascade": X.text_filter_cascade,
        "text_bm25_topk": X.text_bm25_topk,
        "dedup_incremental_minhash": D.dedup_incremental_minhash,
        "dedup_split_leakage": D.dedup_split_leakage,
        "graph_adamic_adar": GX.graph_adamic_adar,
        "sim_hybrid_rrf": S.sim_hybrid_rrf,
        "events_transition_matrix": O.events_transition_matrix,
        "stream_window_aggs": ST.stream_window_aggs,
        "snapshot_lifecycle": snapshot_lifecycle,
    }


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    outdir, tag = sys.argv[1], sys.argv[2]
    queries = _queries()
    wanted = sys.argv[3:] or list(queries)
    spark = get_spark("plans_dump")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(outdir, exist_ok=True)
    for name in wanted:
        df = queries[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
