"""Registry-wide physical-plan lint: flag scale anti-patterns in EVERY
registered query's plan, not just the sampled pins in tests/test_plans.py.

Checks (each a 1000-executor killer if unintentional):

- CARTESIAN:   CartesianProduct — O(n*m) row explosion.
- ALLPAIRS:    a nested-loop join (BroadcastNestedLoopJoin/Cartesian)
               whose condition is ONLY non-equality comparisons between
               the two sides' columns (`a <> b`, `a < b`) — the all-pairs
               candidate-generation shape that turns 100x data into
               10,000x work (r10: graph_ann_beam's N^2 graph build sailed
               through the other checks). A condition that also carries a
               column equality is a blocked/equi join and is fine; an
               UNconditioned BNLJ (broadcast of a 1-row/small aggregate)
               is not flagged — CARTESIAN covers the true cross products.
- GLOBALWIN:   a window function over an UNPARTITIONED windowspec — the
               whole input funnels through one task's sort. Detected
               lexically: in `windowspecdefinition(a, b ASC ...)` the
               partition columns come first WITHOUT sort markers, so a
               spec whose FIRST argument already carries ASC/DESC has an
               empty partition clause.
- ROWPYTHON:   BatchEvalPython — row-at-a-time Python UDF on the plan
               (Arrow paths show as ArrowEvalPython / MapInPandas /
               FlatMapGroupsInPandas and are fine).
- ARRAYOUT:    array/map/struct column in the query's OUTPUT schema — the
               driver's canonicalizer sorts rows in pandas and cannot
               hash list cells (r06: three err'd CORRECTNESS rows).
               Serialize with array_join/to_json in BOTH engines.

Intentional exceptions are whitelisted INLINE here with the reason, so
the lint run is the audit trail.

Usage:
    python tools/plan_lint.py [sf_dir] [query ...]
Exit 1 if any non-whitelisted flag fires.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from uk_procurement_data_pipeline_spark.queries import registry  # noqa: E402
from uk_procurement_data_pipeline_spark.session import get_spark  # noqa: E402

# name -> {flag: reason}. A whitelisted flag still prints, marked OK'd.
WHITELIST: dict[str, dict[str, str]] = {
    "roc_auc_mannwhitney": {
        "GLOBALWIN": "cumulative-negatives window over ONE ROW PER DISTINCT "
        "score-cents CELL (bounded by the 100 x max-dollar domain) — rows "
        "collapse to cells before the window",
    },
    "exact_median_two_phase": {
        "GLOBALWIN": "phase-1 cumulative count over ONE ROW PER $1000 BAND "
        "(bounded by the price range) — the row population is histogrammed "
        "first; phase-2 window is keyed and runs on bounded cents-in-band "
        "cells",
        "ALLPAIRS": "phase-2 selection compares against the broadcast "
        "ONE-ROW k/before counters over $1000-band cells",
    },
    "lm_dirichlet_topk": {
        "GLOBALWIN": "rank annotation over the ALREADY-LIMITED top-10 rows "
        "(TakeOrderedAndProject runs first; the window sees 10 rows)",
    },
    "bh_fdr_screen": {
        "GLOBALWIN": "BH rank/threshold windows over ONE ROW PER EVENT TYPE "
        "(5 rows, bounded domain) — input is already aggregate-sized",
    },
    "skyline_parts_pareto": {
        "GLOBALWIN": "prefix-max window over ONE ROW PER REVENUE BAND "
        "(bounded band cells, div 1e5) — per-part rows are pruned by a "
        "band-keyed equi-join, never globally sorted",
    },
    "runs_test_daily_moves": {
        "GLOBALWIN": "lag chains over ONE ROW PER CALENDAR DAY (bounded "
        "domain) — input is already aggregate-sized",
    },
    "seasonal_decompose_daily": {
        "GLOBALWIN": "centered 7-day trend frame over ONE ROW PER "
        "CALENDAR DAY (bounded domain) — input is already "
        "aggregate-sized",
    },
    "variance_ratio_test": {
        "GLOBALWIN": "overlapping 5-day sums over ONE ROW PER CALENDAR "
        "DAY (bounded domain) — input is already aggregate-sized",
    },
    "moods_median_test": {
        "GLOBALWIN": "grand-median cumulative count over ONE ROW PER "
        "DISTINCT CENTS CELL (bounded by the value domain) — the "
        "exact_median_two_phase banding argument",
    },
    "kruskal_wallis_h": {
        "GLOBALWIN": "midrank cumulative count over ONE ROW PER DISTINCT "
        "CENTS CELL (bounded by the value domain) — rows collapse to "
        "cells before the window",
    },
    "isotonic_calibration_pav": {
        "GLOBALWIN": "row_number/cumsum windows over ONE ROW PER $10 VALUE "
        "BAND (bounded by the value domain) — rows collapse to band cells "
        "before any window; the PAV triangle is a broadcast range join over "
        "those cells",
        "ALLPAIRS": "k >= j PAV triangle over $10 value-band CELLS "
        "(bounded domain; same argument as the GLOBALWIN entry)",
    },
    "markov_removal_attribution": {
        "GLOBALWIN": "credit normalization over ONE ROW PER CHANNEL "
        "(4 rows, bounded domain) — input is already aggregate-sized",
    },
    "daily_gap_interpolation": {
        "GLOBALWIN": "neighbor-lookup frames over ONE ROW PER CALENDAR DAY "
        "(bounded domain) — input is already aggregate-sized",
    },
    "power_iteration_top_pc": {
        "GLOBALWIN": "L1 normalization over ONE ROW PER EMBEDDING DIM "
        "(64 rows, bounded domain) — input is already aggregate-sized",
    },
    "event_type_value_chi2": {
        "GLOBALWIN": "global sum over contingency CELLS (event_type x band, "
        "bounded domain) — input is already aggregate-sized",
    },
    "cosine_topk_bruteforce": {
        "CARTESIAN_OK_LABELED": "exactness baseline, documented; scale "
        "answers are the bucketed ANN variants",
        "ALLPAIRS": "the exactness baseline itself — documented as the "
        "oracle-truth form; scale answers are the bucketed ANN variants",
    },
    # --- ALLPAIRS whitelist (r11). Every entry is a nested-loop join whose
    # non-equality condition compares against a BOUNDED side: a broadcast
    # 1-row scalar, a value-domain-bounded cell table, or the |Q|=N/100
    # recall-readout query set. None generates candidate pairs at scan
    # cardinality. Verified per-site from the physical plans this round.
    "graph_ann_beam": {
        "ALLPAIRS": "seed scoring + brute-force truth broadcast the BOUNDED "
        "query set (vec_id%100==7 readout); the graph BUILD is cell-blocked "
        "equi-join since r11 — no all-pairs at corpus cardinality",
    },
    "ann_recall_report": {
        "ALLPAIRS": "the exact side IS the recall oracle truth — "
        "|Q|-bounded query set x corpus, a readout not a pipeline stage",
    },
    "ann_ndcg_report": {
        "ALLPAIRS": "exact ranking truth for nDCG — |Q|-bounded query set "
        "x corpus readout",
    },
    "pq_recall_report": {
        "ALLPAIRS": "exact shortlist truth for the PQ recall audit — "
        "|Q|-bounded query set x corpus readout",
    },
    # r12
    "ivfpq_nprobe_recall": {
        "ALLPAIRS": "exact top-5 truth (|Q|-bounded query set x corpus "
        "readout, the pq_recall_report shape) + the cell_prn <= nprobe "
        "theta-join against a broadcast THREE-ROW nprobe table — neither "
        "generates pairs at corpus cardinality",
    },
    "t_closeness_report": {
        "ALLPAIRS": "the per-class band spine is QI-class-domain x "
        "band-domain (both value-bounded: <=125 nation|segment classes x "
        "<=7 balance bands) and every other nested-loop is a broadcast "
        "ONE-ROW scalar (N, m, max_band, t_max) — nothing at row "
        "cardinality",
    },
    "late_interaction_maxsim": {
        "ALLPAIRS": "MaxSim rerank scores the |Q|-bounded query-token set "
        "against candidate docs — bounded side broadcast",
    },
    "semdedup_prune": {
        "ALLPAIRS": "vec_id < sem_k compares against a broadcast ONE-ROW "
        "sample-cutoff scalar — a filter, not pair generation",
    },
    "kcore_peel_unrolled": {
        "ALLPAIRS": "deg >= k compares against a broadcast ONE-ROW peel "
        "threshold — a filter, not pair generation",
    },
    "q22_global_sales_opportunity": {
        "ALLPAIRS": "c_acctbal > avg compares against the broadcast "
        "ONE-ROW global average (TPC-H q22 shape)",
    },
    "equidepth_value_bins": {
        "ALLPAIRS": "topk.global_rank's _lband < band prefix join over the "
        "$-band size table (value-domain-bounded both sides) — "
        "ranks for the ntile without a global sort",
    },
    "spearman_price_acctbal": {
        "ALLPAIRS": "topk.global_rank's _lband < band prefix joins over the "
        "price and balance band size tables — midranks without a global "
        "sort",
    },
    "kendall_tau_b_cells": {
        "ALLPAIRS": "lexicographic (x,y)-cell self-join spelled as an OR "
        "— surfaced by the r12 OR-aware check; both sides are the "
        "<= 5x24-cell contingency table (value-domain-bounded), never "
        "row cardinality",
    },
    "rfm_customer_segments": {
        "ALLPAIRS": "topk.global_rank's _lband < band prefix joins over the "
        "R/F/M band size tables (bounded domains) for the no-global-sort "
        "quantile cuts",
    },
    "compaction_bin_packing": {
        "ALLPAIRS": "topk.global_rank's _lband < band prefix join over the "
        "file-size band size table (bounded) for the running byte sum",
    },
    "pareto_8020_users": {
        "ALLPAIRS": "topk.global_rank's _lband > band prefix join over the "
        "DISTINCT event-count size table + one 1-row total comparison — "
        "both bounded",
    },
    "zipf_exponent_fit": {
        "ALLPAIRS": "topk.global_rank's _lband > band prefix join over the "
        "DISTINCT token-count size table (value-domain-bounded)",
    },
    "vocab_coverage_curve": {
        "ALLPAIRS": "topk.global_rank's _lband > band prefix join over the "
        "DISTINCT token-count size table (value-domain-bounded)",
    },
    "vocab_encode_docs": {
        "ALLPAIRS": "topk.global_rank's _lband > band prefix join over the "
        "DISTINCT frequency size table — the X44 parallel global rank, "
        "never row x row",
    },
    "ransac_line_fit": {
        "ALLPAIRS": "x > x pairs over the FIXED 16-point deterministic "
        "sample (120 candidate models), not the data",
    },
    "events_value_band_join": {
        "ALLPAIRS": "value BETWEEN lo AND hi range-lookup into the "
        "broadcast FIXED band-boundary table (bounded rows)",
    },
    "negative_sampling_table": {
        "GLOBALWIN": "cumulative-band windows over the 200-row "
        "vocabulary cut — input is already aggregate-sized",
        "ALLPAIRS": "pos range-lookup into the 200-row cumulative vocab "
        "band table (broadcast, fixed size)",
    },
    "ams_f2_sketch": {
        "GLOBALWIN": "median rank over the 16-row estimator domain — "
        "input is already aggregate-sized",
    },
    "uplift_qini_deciles": {
        "GLOBALWIN": "score-CDF cumsum over ONE ROW PER DISTINCT "
        "hundred-dollar score band + the 10-row decile cumulative — "
        "both bounded domains, input already aggregate-sized",
    },
    "quantile_normalize_lengths": {
        "GLOBALWIN": "global CDF cumsum over ONE ROW PER DISTINCT "
        "n_chars (value-domain-bounded) — input is already "
        "aggregate-sized",
        "ALLPAIRS": "gc >= p_glob maps source quantiles onto the global "
        "CDF over DISTINCT n_chars cells (bounded domain)",
    },
    "wasserstein_value_distance": {
        "GLOBALWIN": "grid-gap lead() over ONE ROW PER DISTINCT CENT "
        "(<=56k, value-domain-bounded) — input is already aggregate-sized",
    },
    "mmr_diversified_rerank": {
        "GLOBALWIN": "greedy argmax windows over the 12-row candidate "
        "pool (bounded by the top-k cut) — input is already tiny",
    },
    "feature_gini_ranking": {
        "GLOBALWIN": "rank over ONE ROW PER CANDIDATE FEATURE (4 rows, "
        "bounded domain) — input is already aggregate-sized",
    },
    "temperature_mixture_weights": {
        "GLOBALWIN": "largest-remainder rank over ONE ROW PER SOURCE "
        "(bounded domain) — input is already aggregate-sized",
    },
    "cusum_changepoint": {
        "GLOBALWIN": "running sum + argmax over ONE ROW PER DAY (the "
        "daily rollup) — input is already aggregate-sized",
    },
    "ks_binned_two_sample": {
        "GLOBALWIN": "ECDF windows over the FIXED 64-bin table — input "
        "is already aggregate-sized",
    },
    "mutual_information_type_band": {
        "GLOBALWIN": "MI total over contingency CELLS (event_type x "
        "band, bounded domain) — input is already aggregate-sized",
    },
    "lorenz_gini_binned": {
        "GLOBALWIN": "Lorenz/Gini windows over the FIXED 100-bin table "
        "— input is already aggregate-sized",
    },
    "orders_open_interval_sweep": {
        "GLOBALWIN": "running sum over ONE ROW PER CALENDAR DAY (the "
        "sweep-line delta rollup) — input is already aggregate-sized",
    },
    "daily_autocorr_lag1": {
        "GLOBALWIN": "lag over ONE ROW PER CALENDAR DAY (the daily "
        "rollup) — input is already aggregate-sized",
    },
    "decision_stump_value_split": {
        "GLOBALWIN": "cut evaluation over the FIXED 64-bin table — "
        "input is already aggregate-sized",
    },
    "token_length_distribution": {
        "GLOBALWIN": "share windows over ONE ROW PER DISTINCT TOKEN "
        "LENGTH (bounded domain) — input is already aggregate-sized",
    },
    "kaplan_meier_customer_lifetime": {
        "GLOBALWIN": "risk-set and log-survival running sums over ONE "
        "ROW PER LIFETIME DAY (calendar-bounded) — input is already "
        "aggregate-sized",
    },
    "opq_variance_balanced_pq": {
        "GLOBALWIN": "dimension ranking over ONE ROW PER EMBEDDING DIM "
        "(64 rows, bounded by the fixed vector width) — rows collapse "
        "to per-dim variance stats before the window",
    },
}

def _check_whitelist_duplicates() -> None:
    """A duplicate query key in the WHITELIST dict literal silently
    overwrites the earlier entry (r11: four merged entries were lost this
    way and their flags re-fired). Parse our own source and refuse to run
    with duplicates."""
    import ast
    from collections import Counter

    tree = ast.parse(Path(__file__).read_text())
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Assign)
            and any(
                isinstance(t, ast.Name) and t.id == "WHITELIST"
                for t in node.targets
            )
            and isinstance(node.value, ast.Dict)
        ):
            keys = [
                k.value
                for k in node.value.keys
                if isinstance(k, ast.Constant)
            ]
            dupes = [k for k, n in Counter(keys).items() if n > 1]
            if dupes:
                raise SystemExit(
                    f"duplicate WHITELIST keys (merge them): {dupes}"
                )


_check_whitelist_duplicates()

_SPEC = re.compile(r"windowspecdefinition\((.{0,120})")

# a plan-attribute reference: name#123 with an optional type suffix (L, …)
_COL = r"[A-Za-z_]\w*#\d+[A-Za-z]*"
# col-vs-col comparisons (literal comparisons like `x#1L % 100 = 7` have a
# literal on one side and don't match)
_NOTEQ_SPAN = rf"NOT \({_COL} = {_COL}\)"
_NONEQ = re.compile(rf"{_NOTEQ_SPAN}|{_COL} [<>]=? {_COL}")
_EQ = re.compile(rf"{_COL} = {_COL}")
_NLJ_LINE = re.compile(
    r"(?:BroadcastNestedLoopJoin|CartesianProduct)\b(.*)"
)


def _allpairs(text: str) -> bool:
    """True if any nested-loop join's condition consists solely of
    non-equality column-vs-column comparisons (see module doc)."""
    for m in _NLJ_LINE.finditer(text):
        cond = m.group(1)
        if not _NONEQ.search(cond):
            continue
        # a col=col equality OUTSIDE the NOT(...) spans means the join is
        # blocked on a key and merely carries a non-equality residual —
        # but ONLY when the equality is a top-level AND conjunct. An
        # equality under an OR (`a < b OR a = b`, i.e. <= spelled as a
        # disjunction) does not block anything (ADVICE r11). Textual
        # conjunct split; an AND nested inside an OR branch can still
        # exempt falsely — accepted, documented limitation.
        residual = re.sub(_NOTEQ_SPAN, "", cond)
        exempt = any(
            _EQ.search(part) and " OR " not in part
            for part in residual.split(" AND ")
        )
        if not exempt:
            return True
    return False


def lint_plan(text: str) -> list[str]:
    flags = []
    if "CartesianProduct" in text:
        flags.append("CARTESIAN")
    if _allpairs(text):
        flags.append("ALLPAIRS")
    if "BatchEvalPython" in text:
        flags.append("ROWPYTHON")
    for m in _SPEC.finditer(text):
        head = m.group(1)
        first = head.split(",", 1)[0].strip()
        # unpartitioned + ordered: the FIRST spec argument is an ORDER
        # column (carries an ASC/DESC marker); unpartitioned + unordered
        # (pure global frame agg): the first argument is the frame spec
        # itself. Partitioned specs lead with bare partition columns.
        if (
            " ASC" in first
            or " DESC" in first
            or head.lstrip().startswith(
                ("unspecifiedframe", "specifiedwindowframe")
            )
        ):
            flags.append("GLOBALWIN")
            break
    return flags


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.001"
    names = []
    reg = registry()
    for a in args:
        if Path(a).is_dir():
            sf_dir = a
        elif a in reg:
            names.append(a)
        else:
            print(f"unknown query or sf dir {a!r}")
            return 2
    if names:
        reg = {n: reg[n] for n in names}
    spark = get_spark("plan-lint", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    for name, spec in reg.items():
        try:
            df = spec.fn(spark, sf_dir)
            qe = df._jdf.queryExecution()
            text = qe.explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "extended"
                )
            )
        except Exception as e:  # noqa: BLE001 — lint must see every plan
            print(f"ERR  {name:40s} {type(e).__name__}: {str(e)[:120]}")
            bad += 1
            continue
        flags = lint_plan(text)
        from pyspark.sql.types import ArrayType, MapType, StructType

        if any(
            isinstance(f.dataType, (ArrayType, MapType, StructType))
            for f in df.schema.fields
        ):
            flags.append("ARRAYOUT")
        if not flags:
            continue
        allowed = WHITELIST.get(name, {})
        for f in flags:
            if f in allowed:
                print(f"ok'd {name:40s} {f}: {allowed[f]}")
            else:
                print(f"FLAG {name:40s} {f}")
                bad += 1
    print(f"\n{len(reg)} plans linted, {bad} non-whitelisted flags")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
