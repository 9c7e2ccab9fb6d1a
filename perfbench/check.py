"""Independent recomputation of the score_batch pass digest with DuckDB.

The benchmark client computes a digest of every master it writes (row
count, rows per risk category, exact 4-dp score sum, flagged
subsidiaries, institutions scored, recall of the planted name pairs) and
logs it with the pass directory in passes.jsonl. Here the same digest is
computed from the written parquet by a different engine; a pass whose
logged digest differs from this one, or from the reference pass, counts
as failed.

The reference digest is also held against the generator's truth
(manifest.json): a master the same wrong way on every pass would agree
with itself and with DuckDB, so every pass equal to a reference that
misses the truth counts as failed too. The dashboard's served master is
held against the same truth.
"""

import json
import os


def digest(master_parquet, name_pairs_csv):
    import duckdb
    con = duckdb.connect()
    try:
        glob = os.path.join(master_parquet, "*.parquet").replace("'", "''")
        con.execute("CREATE VIEW m AS SELECT * FROM read_parquet('%s')" % glob)
        rows, score_sum, subs, ipeds, f990 = con.execute("""
            SELECT count(*),
                   CAST(sum(CAST(distress_score AS DECIMAL(18,4))) AS VARCHAR),
                   count(*) FILTER (WHERE is_subsidiary),
                   count(ipeds_score),
                   count(DISTINCT CASE WHEN f990_score IS NOT NULL THEN ein END)
            FROM m""").fetchone()
        cats = dict(con.execute(
            "SELECT risk_category, count(*) FROM m GROUP BY 1").fetchall())
        found, planted = con.execute("""
            WITH p AS (SELECT CAST(unitid AS VARCHAR) AS unitid,
                              regexp_replace(trim(CAST(ein AS VARCHAR)), '^0+', '') AS ein
                       FROM read_csv(?, header = true, all_varchar = true))
            SELECT (SELECT count(*) FROM p JOIN m ON p.unitid = m.unitid
                    AND m.ein_matched = p.ein),
                   (SELECT count(*) FROM p)""", [name_pairs_csv]).fetchone()
    finally:
        con.close()
    return {"rows": rows, "per_category": cats, "score_sum": score_sum or "0",
            "subsidiaries": subs, "entities": ipeds + f990,
            "pairs_found": found, "pairs_planted": planted}


def same(a, b):
    """Digests equal; score sums compare as decimals (trailing zeros)."""
    from decimal import Decimal
    a, b = dict(a), dict(b)
    sa, sb = Decimal(a.pop("score_sum")), Decimal(b.pop("score_sum"))
    return sa == sb and a == b


# Least share of the planted name pairs the EIN-by-name match must find.
# The library as first benchmarked found 91-95 % of them (seeds 1-3).
MIN_PAIR_RECALL = 0.85


def truth_misses(reference, manifest):
    """How a reference digest disagrees with the generator's truth."""
    c = manifest["counts"]
    misses = []
    if reference["rows"] != c["master_rows"]:
        misses.append("rows %d, master has %d" % (reference["rows"], c["master_rows"]))
    if sum(reference["per_category"].values()) != reference["rows"]:
        misses.append("risk categories cover %d of %d rows"
                      % (sum(reference["per_category"].values()), reference["rows"]))
    if reference["subsidiaries"] != c["subsidiaries_planted"]:
        misses.append("%d subsidiaries flagged, %d planted"
                      % (reference["subsidiaries"], c["subsidiaries_planted"]))
    if reference["pairs_planted"] != c["name_pairs"]:
        misses.append("%d name pairs read, %d planted"
                      % (reference["pairs_planted"], c["name_pairs"]))
    elif reference["pairs_found"] < MIN_PAIR_RECALL * c["name_pairs"]:
        misses.append("%d of %d planted name pairs matched (need %.0f %%)"
                      % (reference["pairs_found"], c["name_pairs"], 100 * MIN_PAIR_RECALL))
    return misses


def reference_misses(work, input_dir):
    """truth_misses of the reference digest a run wrote, printed."""
    with open(os.path.join(work, "reference.json")) as f:
        reference = json.load(f)
    with open(os.path.join(input_dir, "manifest.json")) as f:
        manifest = json.load(f)
    misses = truth_misses(reference, manifest)
    for m in misses:
        print("perfbench: master differs from the generated truth: " + m)
    return misses


def failed_passes(work, input_dir):
    """Number of logged passes whose digest disagrees with DuckDB's or,
    with the reference, with the generated truth. Passes that already
    differ from the reference were counted by the client."""
    with open(os.path.join(work, "reference.json")) as f:
        reference = json.load(f)
    wrong_reference = bool(reference_misses(work, input_dir))
    pairs = os.path.join(input_dir, "truth", "name_pairs.csv")
    bad = 0
    with open(os.path.join(work, "passes.jsonl")) as f:
        for line in f:
            p = json.loads(line)
            if not same(p["digest"], reference):
                continue
            if wrong_reference:
                bad += 1
                continue
            try:
                ok = same(p["digest"],
                          digest(os.path.join(p["dir"], "master.parquet"), pairs))
            except Exception as e:  # unreadable output is a wrong answer
                print("perfbench: check of %s failed: %s" % (p["dir"], e))
                ok = False
            if not ok:
                print("perfbench: pass %s digest mismatch" % p["dir"])
                bad += 1
    return bad
