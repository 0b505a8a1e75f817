#!/usr/bin/env python
"""Regenerate queries_index.md: one line per registry query — name,
defining module, first docstring sentence — grouped by module, so the
333-query registry is navigable without grepping.

Run from the repo root:  python scripts/make_queries_index.py
tests/test_queries_index.py asserts the committed file is current.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: module → one-line scope note (shown as the section header hook)
MODULE_NOTES = {
    "queries": "SURVEY §2 reference surface + flagship",
    "queries_panel": "panel (long-format, entity-partitioned) mode",
    "queries_ext": "x01–x71: dedup, ANN, text, streaming, multimodal, "
                   "mixing, PII, sketch core",
    "queries_ext2": "x72–x93: prefix-filter dedup, media real-decode, "
                    "behavior, OLAP",
    "queries_ext3": "x94–x127: JSON/web, temporal, linkage, quality, "
                    "CDC, incremental LSH",
    "queries_ext4": "x128–x157: SemDeDup, DSIR, graph/community, "
                    "embedding diagnostics",
    "queries_ext5": "x158–x169: readability, calibration inputs, "
                    "empirical-Bayes rates",
    "queries_ext6": "x170–x179: calibration, BPE training, sampling "
                    "temperature planning",
    "queries_ext7": "x180–x184: winnowing/MOSS fingerprints, hubness",
    "queries_ext8": "x185–x209: association rules, media features "
                    "(VAD, shots), entropy rates",
    "queries_ext9": "x210–x224: drift detection, experiment stats "
                    "(SPRT, CUPED, gains)",
    "queries_ext10": "x225–x247: robust/causal stats, DP mechanisms, "
                     "index numbers, self-BLEU",
    "queries_ext11": "x248–x277: join-size sketches, factorization, "
                     "within-subject tests",
    "queries_ext12": "x278–x299: storage-layout economics, Bayesian "
                     "A/B, Friedman/Cochran",
    "queries_ext13": "x300–x315: round-5 batch — codec ingest (PNG), "
                     "bandits, scan-time media sniffing",
    "queries_ext14": "x316+: round-6 batch — spatial grid ops and "
                     "newer statistical families",
}


#: summaries for core-surface queries that carry no docstring (their
#: semantics live in SURVEY §2 / the engine docstrings)
CORE_SUMMARIES = {
    "s01_projection_arithmetic": "S1–S3: projection, literals, arithmetic folding, dependency chains",
    "e01_lag_lead": "E1: v[t±k] lead/lag references",
    "e06_pct_diff": "E6/E7: pct() and diff() transforms",
    "s08_conditional": "S8/E2–E5: nested IF with comparisons, logicals, nd/na/nc",
    "s09_lsum_exists": "S9/E14/E16: LSUM over existing series, exists() guards",
    "s07_date_window": "S7: date-window scoping of assignments",
    "s06_point_in_time": "S6/E19: point-in-time upsert with date literals",
    "s16_first_last": "S16/E15: FIRSTVALUE/LASTVALUE",
    "s04_scalar_broadcast": "S4/E12: scalar assignment + ave broadcast",
    "s05_dynamic_lookup": "S5/E18: dynamic series lookup via make/date",
    "e08_math_funcs": "E8–E11: sqrt/abs/log/exp",
    "e13_min_max": "E13: min/max element-wise",
    "e17_dateof_sentinel": "E17: dateof with sentinel and real last-observation",
    "s10_shift_pct_forward": "S10: SHIFT_PCT forward fill",
    "s11_backcast": "S11: SHIFT_PCT backcast (batched reverse recursion)",
    "s12_chain_index": "S12: CHAIN/MCHAIN chained index",
    "s13_fishvol": "S13/S18: FISHVOL_REBASE with brace-list aliases",
    "s14_convert_down": "S14: frequency convert down (monthly→quarterly)",
    "s14_convert_up": "S14: frequency convert up (interpolating upsample)",
    "s14_convert_business": "S14: business-day frequency convert",
    "s17_nlrx": "S17: NLRX nonlinear regression (golden-parquet oracle)",
    "s20_local_db": "S20: local DB extraction round trip",
    "x01_dedup_exact": "Exact dedup: hash-groupBy survivor election over documents",
    "x02_dedup_near_charset": "Near-dup after charset/whitespace normalization",
    "x03_dedup_minhash_lsh": "MinHash+LSH near-dup pairs (shingle→minhash→band→bucket join)",
    "x05_similarity_topk": "Brute-force cosine top-k ANN baseline over embeddings",
    "x06_text_profile": "Text quality profile: length/punct/stopword/token ratios",
    "x08_ngram_jaccard": "N-gram Jaccard similarity join (capped, banded)",
    "x10_events_hourly": "Hourly windowed aggregation over events (streaming batch twin)",
    "x13_tfidf_top_terms": "TF-IDF top terms per document",
}


def build_index() -> str:
    # Iterate _ALL_QUERIES (source order, grouped by module below);
    # QUERIES moves the pinned SURVEY §2 queries to the front.
    from fame2pygen_spark.queries import ORACLES, _ALL_QUERIES

    by_module: dict[str, list[tuple[str, str]]] = {}
    for name, fn in _ALL_QUERIES.items():
        mod = fn.__module__.rsplit(".", 1)[-1]
        doc = (fn.__doc__ or "").strip().split("\n\n")[0]
        first = " ".join(doc.split())
        # first sentence, trimmed to one line
        for stop in (". ", ".) ", ": "):
            cut = first.find(stop)
            if 0 < cut < 140:
                first = first[: cut + 1]
                break
        if len(first) > 140:
            first = first[:137] + "..."
        if not first:
            first = CORE_SUMMARIES.get(name, "")
        by_module.setdefault(mod, []).append((name, first))

    lines = [
        "# Query registry index",
        "",
        f"{len(_ALL_QUERIES)} oracle-checked queries "
        "(`fame2pygen_spark/queries.py` aggregates all modules; every "
        "entry has a DuckDB oracle in the matching `*_ORACLES` dict).",
        "",
        "`QUERIES` lists the 25 SURVEY §2 reference-surface queries "
        "first (`PINNED_WINDOW`, `fame2pygen_spark/queries.py`), then "
        "every other entry in source order.  Regenerate this file with "
        "`python scripts/make_queries_index.py`.",
        "",
    ]
    # stable module order: core, panel, ext, ext2, ... ext13
    order = sorted(
        by_module,
        key=lambda m: (
            m != "queries",
            m != "queries_panel",
            len(m),
            m,
        ),
    )
    for mod in order:
        note = MODULE_NOTES.get(mod, "")
        lines.append(f"## `fame2pygen_spark/{mod}.py` — {note}")
        lines.append("")
        lines.append("| query | summary |")
        lines.append("|---|---|")
        for name, first in by_module[mod]:
            tag = "" if name in ORACLES else " *(rows-only)*"
            lines.append(f"| `{name}`{tag} | {first} |")
        lines.append("")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    out = build_index()
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "queries_index.md",
    )
    with open(path, "w") as fh:
        fh.write(out)
    print(f"wrote {path} ({out.count(chr(10))} lines)")
