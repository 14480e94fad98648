"""Mechanical enforcement of the rotation policy (round-3 verdict item 4):
any registry entry whose static implementation closure changed since the
committed baseline — or that is new — must sit inside PRIMARY_ORDER (the
driver's 50-row correctness window), so no entry ever ships changed code on
stale driver evidence. The baseline (tools/entry_hashes.json) is updated
only together with a rotation decision: promote, then
``python tools/entry_hashes.py --update``."""

from __future__ import annotations

from big_data_player_analysis_spark.registry import PRIMARY_ORDER
from tools.entry_hashes import current_hashes, diff, load_baseline


def test_baseline_exists_and_covers_registry():
    base = load_baseline()
    cur = current_hashes()
    assert base, "tools/entry_hashes.json missing — run entry_hashes.py --update"
    # a removed entry with a baseline row is stale bookkeeping
    assert not (set(base) - set(cur)), f"stale baseline rows: {set(base) - set(cur)}"


def test_changed_or_new_entries_are_promoted():
    d = diff()
    window = set(PRIMARY_ORDER)
    violations = [n for n in d["changed"] + d["new"] if n not in window]
    assert not violations, (
        f"entries changed without promotion into PRIMARY_ORDER: {violations} "
        "— promote them (displacing green-row overlapping entries per the "
        "policy in registry/__init__.py) and then refresh the baseline with "
        "`python tools/entry_hashes.py --update`"
    )


# Entries whose closure hash changed since the round-3 snapshot but that
# legitimately sit OUTSIDE the window. Each needs recorded evidence that
# the change is output-neutral (the driver row's evidence is then not
# stale). Audited this round by running both trees side by side.
ROUND_SNAPSHOT = "entry_hashes_r03.json"
CROSS_ROUND_EXEMPT = {
    # output byte-identical at sf0.01 (r3 worktree vs HEAD, sorted-csv
    # cmp): the hash moved only because the h3 operating point extracted
    # the shared simhash_band_bounds helper into its closure. Its driver
    # evidence is rows-only by design, and the row count is unchanged.
    "dedup_simhash",
    # ORACLE-ONLY change (Spark side byte-identical): the shared df-bounded
    # jaccard twin was found incomplete at sf0.1+ in the round-4 scale
    # audit and replaced with the unbounded exact CTE. Old and new oracle
    # produce the identical result set at the driver's sf0.01 gate
    # (verified: 25 pairs, both hash-match), so the r03 driver row's
    # meaning is unchanged; the new oracle additionally hash-matches at
    # sf0.1 (256 pairs).
    "dedup_minhash_lsh",
    # Round-4 sf0.1 sweep finds, both verified output-equivalent at the
    # driver's sf0.01 gate before recording the exemption:
    #  * scalar_correlated: money sum switched to DECIMAL(18,2) in BOTH
    #    engines (raw double sums diverged in accumulation-order noise
    #    above the 1e-6 compare at sf0.1 magnitudes); old and new Spark
    #    outputs normalize-equal at sf0.01, and the entry hash-matches
    #    its oracle at sf0.01 AND sf0.1 post-fix.
    "olap_scalar_correlated",
    #  * geometric mean: ORACLE-ONLY change (Spark UDAF byte-identical) —
    #    DuckDB's ln(0) errors where numpy yields the correct 0.0; the
    #    CASE/nullif guard only activates on zero values, which the
    #    sf0.01 gate corpus does not contain. Hash-matches at sf0.01 AND
    #    sf0.1 post-fix.
    "olap_udaf_geometric_mean",
    # Round-4 composed-sf1 sweep finds (the sf0.01 gate corpus cannot
    # exhibit either failure mode):
    #  * q10_join_chain: money sum -> DECIMAL(18,2) in BOTH engines (raw
    #    double sums of ~30k prices/region drift past the 1e-6 compare at
    #    sf1). Old and new Spark outputs agree within 1.4e-6 absolute on
    #    3e8-magnitude sums at sf0.01 (sub-cent; the new form is the
    #    exact decimal sum); verified green vs its twin at sf0.01, sf0.1
    #    AND sf1.
    "q10_join_chain",
    #  * quality-score rounding: Spark round() is exact-decimal HALF_UP,
    #    DuckDB rounds the float product — scores landing exactly on a
    #    7th-digit tie flip between them (6 of 50k sf1 docs, both
    #    directions). Both sides now use the portable
    #    floor(x*1e6 + 0.5)/1e6, bit-deterministic in every engine; no
    #    ties exist at sf0.01/sf0.1, so outputs there are unchanged.
    #    Verified green at sf0.01, sf0.1 AND sf1.
    "text_quality_score",
    "llm_quality_filters",
    # Round-8 displacements: these three changed vs the r03 snapshot
    # because round 7 rebuilt them (real BMP decode pipeline + the
    # mapInPandas feature/frame plumbing) — and they were IN the round-7
    # window for exactly that reason, earning hash-green r07 rows ON the
    # changed code (CORRECTNESS_r07.json). The driver evidence therefore
    # post-dates every code change; rotating them out in round 8 (code
    # untouched this round — not in tools/entry_hashes.json's diff)
    # leaves no stale-evidence gap.
    "multimodal_image_decode",
    "multimodal_features",
    "multimodal_frame_sample",
    # Same shape, displaced later in round 8: changed vs the r03 snapshot
    # by earlier-round rebuilds, hash-green r07 ON the changed code
    # (CORRECTNESS_r07.json), untouched in round 8 — the driver evidence
    # post-dates every code change.
    "llm_decontaminate",
    # Round-10 displacements, same shape: all three changed vs the r03
    # snapshot by earlier-round rebuilds (q18/image/video rode the r8
    # duels-derivation and r7/r9 decode/scatter rebuilds), were in the
    # round-9 window for exactly that reason and earned hash-green r09
    # rows ON the current closures (CORRECTNESS_r09.json), and are
    # untouched in round 10 (not in tools/entry_hashes.json's r10 diff) —
    # the driver evidence post-dates every code change.
    "q18_rank_vector_init",
    "multimodal_video_decode",
    # Round-11 displacement, same shape: changed vs the r03 snapshot by
    # earlier-round rebuilds, in the round-10 window and hash-green r10 ON
    # its current closure (CORRECTNESS_r10.json, 25/25 rows), and
    # untouched in round 11 (not in tools/entry_hashes.json's r11 diff).
    "dedup_ngram_jaccard",
}


def test_changed_since_round_snapshot_promoted_or_exempt():
    """The rolling baseline (updated at every intra-round rotation) cannot
    catch an entry that changed EARLY in the round and was rotated out
    LATER — only a fixed per-round snapshot can. Any entry whose closure
    differs from the last round's snapshot must be in the driver window
    or carry a documented output-neutrality exemption above."""
    import json
    import os

    from tools.entry_hashes import current_hashes

    snap_path = os.path.join(os.path.dirname(__file__), "..", "tools", ROUND_SNAPSHOT)
    with open(snap_path) as f:
        snap = json.load(f)
    cur = current_hashes()
    window = set(PRIMARY_ORDER)
    stale = [
        n
        for n in cur
        if n in snap
        and snap[n] != cur[n]
        and n not in window
        and n not in CROSS_ROUND_EXEMPT
    ]
    assert not stale, (
        f"entries changed since the round snapshot but rotated out: {stale} "
        "— promote them back or record an output-neutrality exemption"
    )
