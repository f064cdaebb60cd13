from __future__ import annotations

import ast
import importlib.util
import os

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location("spark_entry", os.path.join(HERE, "__spark_entry__.py"))
entry_mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry_mod)


def test_oracle_keys_subset_of_queries():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q), set(o) - set(q)
    rows_only = set(q) - set(o)
    # every rows-only op is one of the documented non-SQL-expressible
    # ones (ann_quantized_topk graduated to the brute-force oracle in
    # r11 — its exact rerank reproduces the exact top-k per SF)
    assert rows_only == {
        "dedup_simhash", "ann_lsh_topk", "ann_ivf_topk", "ann_pq_topk",
        "ann_ivfpq_topk",  # r12: probe-gated PQ, recall < 1 by design
        "sketch_profile", "dedup_semantic_clusters",  # KMeans: no SQL oracle
        "graph_label_propagation",  # iterated argmax: no SQL-oracle form
    }, rows_only


def test_first_fifty_slots_all_oracle_backed():
    """The round driver grades only the first 50 registry entries;
    rows-only queries must not occupy graded slots."""
    q = list(entry_mod.queries())
    o = entry_mod.oracle_sql()
    missing = [k for k in q[:50] if k not in o]
    assert missing == [], missing


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["n_name", "revenue"]



# Operators no registry entry, library module, script or benchmark
# reaches, kept on purpose — one line of reason each.
UNREACHED_ALLOWLIST = {
    # reachability oracle for graph_node_metrics' closure-based form
    "herodb_spark.operators.graphops.graph_reachability",
    # exact twin of sketch_profile's HLL/KLL sketches, for their error bounds
    "herodb_spark.operators.sketches.exact_profile",
    # the benchmark's streaming op runs this plan against its oracle
    "herodb_spark.operators.streamops.stream_tumbling_agg",
}


def _references(tree, module):
    """Dotted names a module loads, each resolved through its imports:
    `A.group_having` under `import ... aggregation as A` yields
    `herodb_spark.operators.aggregation.group_having`, a bare name the
    module's own path. Strings and docstrings never count."""
    alias, loads = {}, []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                alias[a.asname or a.name.split(".")[0]] = a.name if a.asname else a.name.split(".")[0]
        elif isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                alias[a.asname or a.name] = f"{node.module}.{a.name}"
        elif isinstance(node, ast.Attribute):
            parts = []
            while isinstance(node, ast.Attribute):
                parts.append(node.attr)
                node = node.value
            if isinstance(node, ast.Name):
                loads.append((node.id, parts[::-1]))
        elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            loads.append((node.id, []))
    refs = set()
    for name, parts in loads:
        dotted = alias.get(name, f"{module}.{name}")
        refs.add(dotted)
        for part in parts:
            dotted += "." + part
            refs.add(dotted)
    return refs


def test_every_operator_is_reached():
    """Every public `(spark, sf_dir)` operator in `operators/` and
    `plans/` is a `queries()` value, is referenced by library code,
    `scripts/`, `perfbench/` or `bench.py`, or is allowlisted above. A
    function only tests call is a second copy of a registered plan."""
    paths = [os.path.join(HERE, "__spark_entry__.py"), os.path.join(HERE, "bench.py")]
    for top in ("herodb_spark", "scripts", "perfbench"):
        for root, _, files in os.walk(os.path.join(HERE, top)):
            paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    sources, trees = {}, {}
    for path in paths:
        module = os.path.relpath(path, HERE)[:-3].replace(os.sep, ".").removesuffix(".__init__")
        with open(path, encoding="utf-8") as f:
            sources[module] = f.read()
    operators = set()
    for module, text in sources.items():
        if module.startswith(("herodb_spark.operators.", "herodb_spark.plans.")):
            trees[module] = ast.parse(text)
            operators |= {
                f"{module}.{node.name}" for node in trees[module].body
                if isinstance(node, ast.FunctionDef) and not node.name.startswith("_")
                and [a.arg for a in node.args.args[:2]] == ["spark", "sf_dir"]
            }
    assert len(operators) > 100, operators
    pending = operators - {f"{fn.__module__}.{fn.__name__}" for fn in entry_mod.queries().values()}
    # only a file that contains an operator's name can reference it
    for module, text in sources.items():
        if any(op.rsplit(".", 1)[1] in text for op in pending):
            pending -= _references(trees.get(module) or ast.parse(text), module)
    unreached = sorted(pending - UNREACHED_ALLOWLIST)
    assert not unreached, "unreached operators:\n" + "\n".join(unreached)
    stale = sorted(UNREACHED_ALLOWLIST - pending)
    assert not stale, "allowlisted but reached, or gone:\n" + "\n".join(stale)
