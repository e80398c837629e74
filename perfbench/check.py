"""Output checks: the engine's results against an independent DuckDB
computation over the same generated parquet.

Each check returns (name, ok, detail). The SQL restates the ruleset of
`graft.rules.FileRules` and the semantics of the engine's check functions
(`Violations`, `Uniqueness`, `Referential`, `Profile`, `DriftCheck.ks`,
`Verdicts`), so a change to either side shows as a failed check.
"""
import glob
import math
import os

import duckdb

PROFILE_COLS = ["repo", "path", "commit", "lang", "content"]
LANGS = ["en", "fr", "es", "de", "zh"]
KS_BUCKET_WIDTH = 64

# rule_id -> SQL that is true when the row violates the rule
RULES = {
    "required_repo": "repo IS NULL",
    "required_path": "path IS NULL",
    "required_commit": '"commit" IS NULL',
    "required_lang": "lang IS NULL",
    "required_content": "content IS NULL",
    "pattern_repo": "repo IS NOT NULL AND NOT regexp_matches(repo, "
                    "'^[A-Za-z0-9._-]+/[A-Za-z0-9._-]+$')",
    "pattern_path": "path IS NOT NULL AND NOT regexp_matches(path, "
                    "'^src/[A-Za-z0-9_./-]+$')",
    "pattern_commit": '"commit" IS NOT NULL AND NOT regexp_matches("commit", '
                      "'^[0-9a-f]{7,40}$')",
    "enum_lang": "lang IS NOT NULL AND lang NOT IN ("
                 + ", ".join(f"'{v}'" for v in LANGS) + ")",
    "sha256_content": "NOT coalesce(content_sha256 IS NOT NULL AND content IS NOT NULL "
                      "AND content_sha256 = sha256(content), false)",
}


def _con(files_glob):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW f AS SELECT * FROM read_parquet('{files_glob}')")
    return con


def _violations_by_rule(con):
    sql = " UNION ALL ".join(
        f"SELECT '{rid}' AS rule_id, count(*) AS n FROM f WHERE {cond}"
        for rid, cond in RULES.items())
    return {r: n for r, n in con.execute(sql).fetchall() if n > 0}


def _eq(name, got, want):
    return (name, got == want, "" if got == want else f"engine {got!r} vs duckdb {want!r}")


def check_validate(data, out):
    files = os.path.join(data, "files")
    con = _con(os.path.join(files, "*.parquet"))
    con.execute("CREATE VIEW manifest AS SELECT * FROM read_parquet("
                f"'{os.path.join(data, 'files.manifest', '*.parquet')}')")
    c = out["checks"]
    rows = con.execute("SELECT count(*) FROM f").fetchone()[0]
    res = [_eq("pass_rows", c["pass_rows"], [rows]),
           _eq("violations_by_rule", c["violations_by_rule"], _violations_by_rule(con))]
    if "pass_rows_1core" in c:
        res.append(_eq("pass_rows_1core", c["pass_rows_1core"], [rows]))
    g, r = con.execute(
        "SELECT count(*), coalesce(sum(n), 0) FROM (SELECT count(*) n FROM f "
        'GROUP BY repo, path, "commit" HAVING count(*) > 1)').fetchone()
    res += [_eq("duplicate_groups", c["duplicate_groups"], g),
            _eq("duplicate_rows", c["duplicate_rows"], r)]
    g, r = con.execute(
        "SELECT count(*), coalesce(sum(n), 0) FROM (SELECT repo, count(*) n FROM f "
        "WHERE repo IS NOT NULL AND repo NOT IN (SELECT repo FROM manifest) "
        "GROUP BY repo)").fetchone()
    res += [_eq("orphan_repos", c["orphan_repos"], g),
            _eq("orphan_rows", c["orphan_rows"], r)]
    want = {col: list(con.execute(
        f'SELECT count(*), count(*) - count("{col}") FROM f').fetchone())
        for col in PROFILE_COLS}
    res += [_eq("profile_single_pass", c["profile_single_pass"], want),
            _eq("profile", c["profile"], want)]
    ks = con.execute(f"""
        WITH hist AS (
          SELECT floor(length(content) / {KS_BUCKET_WIDTH}) AS bucket,
                 sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
                 sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS c1
          FROM f WHERE content IS NOT NULL GROUP BY 1),
        cdf AS (
          SELECT sum(c0) OVER (ORDER BY bucket) / sum(c0) OVER () AS cdf0,
                 sum(c1) OVER (ORDER BY bucket) / sum(c1) OVER () AS cdf1
          FROM hist)
        SELECT max(abs(cdf0 - cdf1)) FROM cdf""").fetchone()[0]
    ok = math.isclose(c["ks_stat"], ks, abs_tol=2e-9)
    res.append(("ks_stat", ok, "" if ok else f"engine {c['ks_stat']} vs duckdb {ks}"))
    return res


def check_snapshot(data, out):
    con = _con(os.path.join(data, "files", "*.parquet"))
    c = out["checks"]
    rules = ", ".join(f"('{r}')" for r in RULES)
    counts = " UNION ALL ".join(
        f"SELECT part, '{rid}' AS rule_id FROM p WHERE {cond}"
        for rid, cond in RULES.items())
    want = con.execute(f"""
        WITH p AS (SELECT *, coalesce(split_part(repo, '/', 1), '__null__') AS part FROM f),
        parts AS (SELECT DISTINCT part FROM p),
        rules(rule_id) AS (VALUES {rules}),
        v AS (SELECT part, rule_id, count(*) AS n FROM ({counts}) GROUP BY ALL)
        SELECT parts.part, rules.rule_id, coalesce(v.n, 0)
        FROM parts CROSS JOIN rules
        LEFT JOIN v ON v.part = parts.part AND v.rule_id = rules.rule_id""").fetchall()
    got = sorted(tuple(v) for v in c["verdicts"])
    rows = con.execute("SELECT count(*) FROM f").fetchone()[0]
    return [_eq("verdicts", got, sorted(want)),
            _eq("lineage_rows", c["lineage_rows"], rows)]


def check_stream(work, out):
    """Every arrived file was read by exactly one micro-batch (per the
    query's source log, as the engine run parsed it), every such batch
    committed exactly one IceLite partition, and the committed violation
    total matches DuckDB."""
    src = os.path.join(work, "stream", "src")
    arrived = sorted(os.path.basename(p) for p in glob.glob(os.path.join(src, "*.parquet")))
    log = out["checks"]["source_log"]
    lineage = out["checks"]["lineage_src_files"]
    batch_parts = sorted({f"b{b:05d}" for bs in log.values() for b in bs})
    con = _con(os.path.join(src, "*.parquet"))
    total = sum(_violations_by_rule(con).values())
    return [_eq("each_file_in_one_batch", {f: len(log.get(f, [])) for f in arrived},
                {f: 1 for f in arrived}),
            _eq("no_unknown_files", sorted(log), arrived),
            _eq("each_batch_committed_once", sorted(lineage), batch_parts),
            _eq("violations_total", out["checks"]["violations_total"], total)]


def lineage_src_mismatch(out):
    """Committed batches whose lineage record's source-file set differs
    from the files the batch read. Reported, not checked: see NOTES.md."""
    read = {}
    for f, bs in out["checks"]["source_log"].items():
        for b in bs:
            read.setdefault(f"b{b:05d}", []).append(f)
    return sum(1 for part, files in out["checks"]["lineage_src_files"].items()
               if sorted(files) != sorted(read.get(part, [])))
