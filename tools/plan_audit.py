"""Generate PLANS.md: one physical-plan audit row per registered query.

For every `queries()` entry, build the DataFrame at the given sf_dir and
summarize its executed plan: hash-shuffle count, broadcast count,
sort-merge joins, whether any Cartesian/nested-loop join appears, whether
the scan carries pushed filters, whether any Python eval operator is
present, and whether any broadcast HINT covers a corpus-proportional
subtree (the r8 sf8.0 OOM class — undeclared sites flag YES and fail
tests/test_plans.py). This materializes the ".explain and iterate"
discipline as an inspectable artifact.

Usage: python tools/plan_audit.py [sf_dir] > PLANS.md  (or default write)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# Broadcast-hint discipline (the r8 sf8.0 lesson, CHANGES_r8 §9d): an
# ``F.broadcast`` hint BYPASSES autoBroadcastJoinThreshold, so a hint whose
# subtree scans a corpus-PROPORTIONAL table is a deferred OOM — identical
# plan at bench scales, a crash once the side outgrows the heap (measured:
# q5's hinted customer broadcast killed the sf8.0 probe).  Hints are free
# only on sides whose cardinality is bounded INDEPENDENT of corpus scale.
#
# Two bounded classes:
#   1. fixed-cardinality base tables (nation=25, region=5 at any SF) —
#      always fine, never flagged;
#   2. subtrees that SCAN a corpus table but REDUCE it to a bounded frame
#      before the hint (a one-row global aggregate, the per-type moment
#      table, the k trained centroids / PQ codebooks, the declared probe
#      top-k, the external-benchmark gram set).  These must be DECLARED
#      below with their expected per-hint scanned-table signature and a
#      re-verifiable reason; an undeclared corpus-scanning hint — a
#      declared query GAINING one, or swapping a declared signature for
#      a different table at the same count — flags YES and fails
#      tests/test_plans.py.
BOUNDED_TABLES = {"nation", "region"}

# Expected corpus-scanning broadcast-hint SIGNATURE per query: one sorted
# scanned-table list per hint, measured at sf0.001 (the signature is
# sf-independent: it is a property of the logical plan, not of sizes).
# Pinning the signature rather than a bare count (ADVICE r9) means a
# declared query cannot swap a bounded-side hint for a DIFFERENT
# corpus-proportional one at the same count — the swapped entry fails the
# multiset containment in ``undeclared_hint_excess``.
#
# ``<leaf:LogicalRDD>`` entries are the localCheckpointed k-row centroid /
# PQ-codebook frames (kmeans_fit materializes them, so their analyzed
# plans are LogicalRDD leaves — bounded by construction at k rows; the
# r9 catch-all in _tables_under now surfaces them for declaration instead
# of walking past them silently).
DECLARED_BOUNDED_HINTS: dict[str, tuple[list, str]] = {
    "audit_anomalous_access": (
        [["events"], ["events"], ["events"]],
        "one-row high-water-mark / per-principal total aggregates"),
    "audit_principal_last7d": (
        [["events"]], "one-row high-water-mark aggregate"),
    "contamination_check": (
        [["<leaf:LogicalRDD>"]],
        "benchmark gram set — external-benchmark-sized; the doc_id%MOD "
        "slice is the harness stand-in, deployment side is a fixed "
        "eval-suite artifact (reads the localCheckpointed gram table, "
        "hence the LogicalRDD leaf)"),
    "events_conversion_funnel": (
        [["events"], ["events"], ["events"]],
        "one-row stage-count aggregates"),
    "events_daily_anomalies": (
        [["events"]],
        "per-event-type moment table — bounded by the event-type "
        "domain, not corpus rows"),
    "kmeans_clusters": (
        [["<leaf:LogicalRDD>"], ["<leaf:LogicalRDD>"]],
        "k localCheckpointed centroids (argmax assignment)"),
    "knn_bruteforce": (
        [["embeddings"], ["embeddings"]],
        "probe set + probe top-k label re-attach (fixed-size query "
        "batch in deployment; corpus-proportional only in the harness "
        "slice)"),
    "knn_ivf": (
        [["embeddings"], ["embeddings"]],
        "probe set (assign + bucket-probe)"),
    "knn_ivfpq": (
        [["<leaf:LogicalRDD>"], ["<leaf:LogicalRDD>"],
         ["<leaf:LogicalRDD>", "embeddings"],
         ["embeddings"], ["embeddings"]],
        "probe set + k centroids / PQ codebooks + per-query ADC "
        "distance table (|queries| x m x k)"),
    "knn_ivfpq_refined": (
        [["<leaf:LogicalRDD>"], ["<leaf:LogicalRDD>"],
         ["<leaf:LogicalRDD>", "embeddings"],
         ["embeddings"], ["embeddings"], ["embeddings"]],
        "probe set + codebooks + ADC distance table + refine-stage "
        "probe vectors"),
    "knn_pq_adc": (
        [["<leaf:LogicalRDD>"], ["<leaf:LogicalRDD>"],
         ["<leaf:LogicalRDD>", "embeddings"]],
        "PQ codebooks + per-query ADC distance table (|queries| x m x k)"),
    "mix_datasets": ([["documents"]], "one-row grand-total aggregate"),
}

# The corpus stage chain (`llm/pipeline._chain`) is audited on its own,
# with every stage left lazy: `corpus_funnel` localCheckpoints three of
# its stages and `run_corpus_pipeline` reads each stage back from
# parquet, and both put the kept stage's plan under a leaf that
# ``broadcast_hint_corpus_scans`` cannot walk into. Pinned the same way
# as DECLARED_BOUNDED_HINTS, and read by tests/test_plans.py.
DECLARED_CHAIN_HINTS: tuple[list, str] = (
    [["documents"]],
    "stage_decontaminate's benchmark gram set — the same bounded side "
    "as contamination_check")


def corpus_chain_hint_scans(docs) -> list:
    """``broadcast_hint_corpus_scans`` of the whole stage chain over
    ``docs``, with no stage checkpointed or written."""
    from redshift_to_lakehouse_migration_spark.llm.pipeline import _chain
    return broadcast_hint_corpus_scans(
        _chain(docs, lambda make_df, path, stage: make_df()))


def undeclared_hint_excess(observed: list, declared: list) -> list:
    """Observed hint signatures beyond the declared multiset. Each entry
    is a sorted scanned-table list; containment is per-signature WITH
    multiplicity, so neither an extra hint nor a same-count signature
    swap can pass."""
    from collections import Counter
    budget = Counter(tuple(d) for d in declared)
    excess = []
    for o in observed:
        key = tuple(o)
        if budget[key] > 0:
            budget[key] -= 1
        else:
            excess.append(o)
    return excess


def missing_declared_hints(observed: list, declared: list) -> list:
    """Declared hint signatures with NO matching observed hint — the rot
    direction ``undeclared_hint_excess`` cannot see: a declared query that
    silently LOSES hints (a refactor drops the bounded broadcast, the
    declaration stays) must update its declaration, or the allowlist
    decays into a blanket waiver for hints that no longer exist."""
    from collections import Counter
    seen = Counter(tuple(o) for o in observed)
    missing = []
    for d in declared:
        key = tuple(d)
        if seen[key] > 0:
            seen[key] -= 1
        else:
            missing.append(d)
    return missing


def _tables_under(node, acc: set) -> None:
    """Collect base-table names scanned anywhere under ``node`` (analyzed
    logical plan). Parquet relations map to their file stem; any leaf
    relation whose table cannot be identified is recorded as
    ``<unknown>`` so it flags conservatively rather than passing silently.
    LocalRelation / OneRowRelation / Range leaves are literal-bounded."""
    cls = node.getClass().getSimpleName()
    if cls == "LogicalRelation":
        name = None
        try:
            paths = node.relation().location().rootPaths()
            for i in range(paths.size()):
                m = re.search(r"/([A-Za-z0-9_.]+?)(?:\.parquet)?/?$",
                              str(paths.apply(i)))
                if m:
                    name = m.group(1)
                    acc.add(name)
        except Exception:
            pass
        if name is None:
            acc.add("<unknown>")
    elif cls in ("HiveTableRelation", "UnresolvedCatalogRelation"):
        acc.add("<managed:" + node.toString().splitlines()[0][:60] + ">")
    elif node.children().size() == 0 and cls not in (
            "LocalRelation", "OneRowRelation", "Range"):
        # Catch-all for the docstring's "flags conservatively" contract
        # (ADVICE r9): an unrecognized childless leaf — DataSourceV2Relation
        # if the reader ever switches to v2, a LogicalRDD from a checkpoint,
        # a future node class — is a scan this walker cannot bound, so it
        # must surface for declaration rather than pass silently.
        acc.add(f"<leaf:{cls}>")
    for i in range(node.children().size()):
        _tables_under(node.children().apply(i), acc)


def broadcast_hint_corpus_scans(df) -> list:
    """One entry per broadcast ``ResolvedHint`` in the analyzed plan whose
    subtree scans at least one non-BOUNDED_TABLES base table; each entry is
    the sorted list of those tables. Empty list == hint-disciplined."""
    out = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "ResolvedHint" and \
                "broadcast" in node.hints().toString().lower():
            scanned: set = set()
            _tables_under(node.child(), scanned)
            corpus = sorted(scanned - BOUNDED_TABLES)
            if corpus:
                out.append(corpus)
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().analyzed())
    return out

# Deliberate BroadcastNestedLoopJoin sites — each broadcasts a side whose
# size is BOUNDED INDEPENDENT of corpus scale (a one-row aggregate, the k
# IVF centroids, or the declared probe set), so the "nested loop" is the
# intended O(N x small-constant) fan-out, not an all-pairs hazard.  Each
# entry pins the EXPECTED BNLJ count in the executed plan (ADVICE r7: a
# bare allowlist would let a declared query that regresses by GAINING an
# extra, unbounded nested-loop join still report "bounded") — exceeding
# the pinned count flags YES, as does any BNLJ in an unlisted query or
# any CartesianProduct anywhere.  Keep reasons specific enough to
# re-verify from the code; counts measured at sf0.001 (plan SHAPE is
# sf-independent for these: the nested-loop sides are constant-bounded).
DECLARED_BNLJ = {
    "knn_bruteforce": (1, "broadcast probe set (documented exact baseline)"),
    "knn_ivf": (2, "broadcast k centroids (assign + probe-assign)"),
    "knn_ivfpq": (2, "broadcast k centroids (assign + probe-assign)"),
    "knn_ivfpq_refined": (2, "broadcast k centroids (assign + probe-assign)"),
    "kmeans_clusters": (1, "broadcast k centroids (argmax assignment)"),
    "mix_datasets": (1, "broadcast one-row grand total"),
    "events_conversion_funnel": (3, "broadcast one-row stage counts"),
    "audit_anomalous_access": (3, "broadcast one-row high-water mark"),
    "audit_principal_last7d": (1, "broadcast one-row high-water mark"),
}


def main() -> None:
    from redshift_to_lakehouse_migration_spark.queries import ORACLES, QUERIES
    from redshift_to_lakehouse_migration_spark.session import get_spark

    spark = get_spark("plan_audit")
    rows = []
    for name in sorted(QUERIES):
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        fmt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        corpus_hints = broadcast_hint_corpus_scans(df)
        declared_sig = DECLARED_BOUNDED_HINTS.get(name, ([],))[0]
        hint_flag = (
            "no" if not corpus_hints
            else ("bounded"
                  if not undeclared_hint_excess(corpus_hints, declared_sig)
                  else "YES"))
        rows.append({
            "name": name,
            "oracle": "full" if name in ORACLES else "rows-only",
            "shuffles": plan.count("Exchange hashpartitioning"),
            "broadcasts": plan.count("BroadcastExchange"),
            "smj": plan.count("SortMergeJoin"),
            # both all-pairs shapes: CartesianProduct (non-broadcastable)
            # AND BroadcastNestedLoopJoin (how Spark plans a non-equi join
            # with a broadcastable side — same O(n*m) compute per row).
            # Declared bounded-broadcast sites show "bounded" only while
            # the plan's BNLJ count stays at its pinned expectation;
            # gaining an extra nested loop (or any undeclared BNLJ) is YES.
            "cartesian": (
                "YES" if "CartesianProduct" in plan
                else ("bounded"
                      if plan.count("BroadcastNestedLoopJoin")
                      <= DECLARED_BNLJ.get(name, (0,))[0] else "YES")
                if "BroadcastNestedLoopJoin" in plan else "no"),
            "pushed": ("yes" if ("PushedFilters: [" in fmt
                                 and "PushedFilters: []" not in fmt)
                       else "-"),
            "python": ("mapInPandas" if "MapInPandas" in plan
                       else ("YES" if "BatchEvalPython" in plan else "no")),
            # corpus-scanning broadcast hints (the r8 sf8.0 OOM class):
            # "no" = hint-disciplined, "bounded" = declared sites at or
            # under their pinned count, "YES" = an undeclared (or gained)
            # hinted broadcast over a corpus-proportional subtree.
            "hints": hint_flag,
            "hint_tables": corpus_hints,
        })

    lines = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        f"Auto-generated by `tools/plan_audit.py` at `{SF_DIR}` "
        "(plan shapes, not timings; AQE may further coalesce at runtime).",
        "Columns: hash-shuffle exchanges, broadcast exchanges, sort-merge",
        "joins, Cartesian/nested-loop all-pairs joins (`no` everywhere,",
        "except the declared `bounded` sites below — each broadcasts a",
        "side whose size is independent of corpus scale), non-empty",
        "parquet PushedFilters, Python eval operators (only the multimodal",
        "decode stub may say `mapInPandas`), and corpus-scanning broadcast",
        "HINTS (`no` everywhere except the declared `bounded` sites — an",
        "undeclared hint over a corpus-proportional subtree bypasses the",
        "size check and is a deferred OOM at 100 TB; CHANGES_r8 §9d).",
        "",
        "| query | oracle | shuffles | broadcasts | SMJ | cartesian | "
        "pushed filters | python | corpus hints |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['name']} | {r['oracle']} | {r['shuffles']} | "
            f"{r['broadcasts']} | {r['smj']} | {r['cartesian']} | "
            f"{r['pushed']} | {r['python']} | {r['hints']} |")
    bad = [r["name"] for r in rows if r["cartesian"] == "YES"]
    bounded = [r["name"] for r in rows if r["cartesian"] == "bounded"]
    stale = sorted(set(DECLARED_BNLJ) - set(bounded))
    bad_hints = [r["name"] for r in rows if r["hints"] == "YES"]
    bounded_hints = [r["name"] for r in rows if r["hints"] == "bounded"]
    # stale = declared signatures the plan no longer carries, PER ENTRY —
    # partial loss counts (a bare set difference on names would let a
    # query quietly drop 5 of its 6 declared hints)
    observed_by_name = {r["name"]: r["hint_tables"] for r in rows}
    stale_hints = sorted(
        (name, missing)
        for name, (sig, _) in DECLARED_BOUNDED_HINTS.items()
        for missing in [missing_declared_hints(
            observed_by_name.get(name, []), sig)]
        if missing)
    lines += ["", f"Undeclared Cartesian/nested-loop joins found: "
                  f"{bad if bad else 'none'}."]
    if bounded:
        lines += ["", "Declared bounded-broadcast nested-loop sites "
                      "(size independent of corpus scale):"]
        lines += [f"- `{n}` — expected BNLJ count {DECLARED_BNLJ[n][0]}: "
                  f"{DECLARED_BNLJ[n][1]}" for n in bounded]
    if stale:
        # a declaration whose BNLJ vanished is a stale allowlist entry —
        # surface it so the list can't silently rot into a blanket waiver
        lines += ["", f"STALE declarations (no BNLJ in plan): {stale}."]
    lines += ["", f"Undeclared corpus-scanning broadcast hints: "
                  f"{bad_hints if bad_hints else 'none'}."]
    if bounded_hints:
        lines += ["", "Declared bounded corpus-scanning hint sites (the "
                      "subtree scans a corpus table but reduces it to a "
                      "corpus-independent cardinality before the hint); "
                      "each pins the exact per-hint scanned-table "
                      "signature, so a same-count signature swap flags:"]
        lines += [f"- `{n}` — expected signature "
                  f"{DECLARED_BOUNDED_HINTS[n][0]}: "
                  f"{DECLARED_BOUNDED_HINTS[n][1]}" for n in bounded_hints]
    if stale_hints:
        lines += ["", "STALE hint declarations (declared signatures the "
                      "plan no longer carries — partial loss included): "
                      f"{stale_hints}."]
    from redshift_to_lakehouse_migration_spark.tables import load
    chain_hints = corpus_chain_hint_scans(load(spark, SF_DIR, "documents"))
    chain_ok = sorted(chain_hints) == sorted(DECLARED_CHAIN_HINTS[0])
    lines += ["", "Corpus stage chain (`llm/pipeline._chain`, every stage "
                  f"lazy): hint signature {chain_hints} — "
                  + (f"declared: {DECLARED_CHAIN_HINTS[1]}." if chain_ok
                     else f"DIFFERS from the declared "
                          f"{DECLARED_CHAIN_HINTS[0]}.")]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries); undeclared: {bad}; "
          f"bounded: {len(bounded)}; stale declarations: {stale}; "
          f"undeclared hints: {bad_hints}; bounded hints: "
          f"{len(bounded_hints)}; stale hint declarations: {stale_hints}; "
          f"corpus chain hints: {chain_hints}"
          f"{'' if chain_ok else ' (differ from declared)'}")
    spark.stop()


if __name__ == "__main__":
    main()
