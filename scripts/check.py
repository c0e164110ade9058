#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate (t2).

Usage: python3 scripts/check.py [sfDir] [outDir]

Reads outDir/<name>/ parquet (written by `sbt "runMain graft.Verify
<sfDir> <outDir>"`) and outDir/oracle_sql.json, runs each oracle SQL in
DuckDB against views over the sfDir parquet tables, sorts columns by
name, and compares row-by-row. NOT part of the shipped library — dev
tooling only (duckdb/pandas are driver-side deps).
"""
import glob
import json
import math
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def driver_sortable(files):
    """Guard against output shapes the driver harness cannot hash.

    The driver canonicalizes via a pandas sort, and a FLAT list column
    (list<primitive>) reaches that sort as numpy arrays → `TypeError:
    unhashable type: 'numpy.ndarray'` → the gate records `err` no matter
    how correct the values are (the q_embed_centroids r8 lesson).
    Empirically list<struct> survives (q_nested_catalog has passed every
    round), so the rule is schema-based: reject list-of-primitive and
    list-of-list output columns; allow list<struct> and scalars.
    """
    for field in pq.read_schema(files[0]):
        t = field.type
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            if not pa.types.is_struct(t.value_type):
                return (f"column '{field.name}' is flat {t} — the driver's "
                        "pandas sort cannot hash it; unpivot to rows or to_json")
    return None

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def type_class(t):
    """Collapse a DuckDB type to the value class the gate actually hashes.

    The driver's comparison is value-level: int32 vs int64 both canon to the
    same repr, but HUGEINT/DECIMAL surface as decimal.Decimal and mismatch a
    plain int even when the values are equal (the q_pack_sequences r5
    failure). Same class on both sides = safe; different class = hash risk.
    """
    t = str(t).upper()
    if t.startswith("DECIMAL") or t in ("HUGEINT", "UHUGEINT"):
        return "decimal"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if t.startswith("STRUCT") or t.endswith("[]") or t.startswith("MAP"):
        return "nested:" + t
    if t == "JSON":
        # to_json() is typed JSON by newer DuckDBs but fetches as str —
        # same value class as the VARCHAR Spark writes to parquet
        return "VARCHAR"
    return t


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def gzip_witness(con, files0):
    """Independent exact witness for q_compression_ratio.

    DuckDB has no deflate surface, so the query is rows-only at the
    gate — but Python's zlib IS the same canonical DEFLATE the JVM's
    Deflater wraps, so recomputing `len(zlib.compress(text, 6))` (zlib
    wrapper, level 6 — exactly what functions/GzipSize.deflatedSize
    configures) checks every byte count against a second engine. Also
    re-derives n_bytes (utf-8 length) and the ratio_ppm integer math.
    """
    import zlib
    rows = con.sql(
        f"SELECT g.doc_id, d.text, g.n_bytes, g.gzip_bytes, g.ratio_ppm "
        f"FROM '{files0}' g JOIN documents d USING (doc_id) "
        f"ORDER BY g.doc_id").fetchall()
    if not rows:
        return False, "no rows joined back to documents"
    # The join validates emitted rows; it cannot see silently DROPPED
    # documents (and a duplicated doc_id would inflate it). Pin the
    # cardinality: exactly one output row per document.
    n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    if len(rows) != n_docs:
        return False, (
            f"query emitted {len(rows)} joined rows but documents has "
            f"{n_docs} - rows dropped or duplicated")
    for doc_id, text, n_bytes, gzip_bytes, ratio_ppm in rows:
        raw = (text or "").encode("utf-8")
        want_gz = len(zlib.compress(raw, 6))
        want_ppm = want_gz * 1000000 // max(len(raw), 1)
        if (n_bytes, gzip_bytes, ratio_ppm) != (len(raw), want_gz, want_ppm):
            return False, (
                f"doc {doc_id}: spark (n={n_bytes}, gz={gzip_bytes}, "
                f"ppm={ratio_ppm}) vs zlib (n={len(raw)}, gz={want_gz}, "
                f"ppm={want_ppm})")
    return True, f"{len(rows)} rows, every byte count matches python zlib"


def approx_distinct_witness(con, files0):
    """Tolerance witness for q_agg_approx_distinct (HLL++ sketch).

    The sketch's count is not DuckDB's, so the query has no oracle; its
    bound is checked instead: per l_returnflag, within 10% of DuckDB's
    exact count(DISTINCT l_partkey), with the same flags on both sides
    (the bound LlmPipelineSpec asserts).
    """
    rows = con.sql(
        f"SELECT l_returnflag, m.approx_parts, e.n FROM '{files0}' m "
        "FULL JOIN (SELECT l_returnflag, count(DISTINCT l_partkey) AS n "
        "FROM lineitem GROUP BY l_returnflag) e USING (l_returnflag) "
        "ORDER BY l_returnflag").fetchall()
    if not rows:
        return False, "no rows"
    for flag, approx, exact in rows:
        if approx is None or exact is None:
            return False, f"flag {flag}: approx {approx} vs exact {exact} (flag missing)"
        if abs(approx - exact) / exact >= 0.10:
            return False, f"flag {flag}: approx {approx} vs exact {exact} (>= 10%)"
    return True, f"{len(rows)} flags, each within 10% of the exact distinct count"


def approx_quantile_witness(con, files0):
    """Tolerance witness for q_agg_approx_quantile (approx_percentile).

    Per l_returnflag, each of p25/p50/p75 within 2.0 of DuckDB's exact
    quantile_cont over l_quantity, with the same flags on both sides
    (the bound LlmPipelineSpec asserts).
    """
    rows = con.sql(
        f"SELECT l_returnflag, m.p25, m.p50, m.p75, e.q FROM '{files0}' m "
        "FULL JOIN (SELECT l_returnflag, quantile_cont(CAST(l_quantity AS DOUBLE), "
        "[0.25, 0.5, 0.75]) AS q FROM lineitem GROUP BY l_returnflag) e "
        "USING (l_returnflag) ORDER BY l_returnflag").fetchall()
    if not rows:
        return False, "no rows"
    for flag, p25, p50, p75, q in rows:
        if p25 is None or q is None:
            return False, f"flag {flag}: approx {p25} vs exact {q} (flag missing)"
        for got, want in zip((p25, p50, p75), q):
            if abs(got - want) > 2.0:
                return False, f"flag {flag}: approx {(p25, p50, p75)} vs exact {tuple(q)}"
    return True, f"{len(rows)} flags, each quartile within 2.0 of the exact quantile"


def substrate_stats_witness(con, files0, sf_dir, out_dir):
    """Independent byte/row witness for q_substrate_stats (VERDICT r19
    missing #5 — the gzip_witness pattern).

    The query's bytes/n_rows are env-dependent (artifact dirs under
    java.io.tmpdir keyed by dataset label + source mtime), so a DuckDB
    oracle is impossible — but the artifact dirs are plain directories:
    recompute each family's on-disk bytes with os.walk and its row
    count by re-reading the artifact parquet in DuckDB, locating the
    CURRENT artifact exactly the way Derived.dirFor does (md5-digest
    label + source-table mtime in ms + a version under the current
    format tag). The artifacts are looked up under the root Verify
    recorded in <out_dir>/artifact_root.txt (its java.io.tmpdir); a
    missing record or root fails the witness instead of checking
    whatever artifacts another run left elsewhere.
    """
    import hashlib
    import re
    fam_map = {
        "embed_bucketed": ("graft-embed-bucketed", "embeddings.parquet"),
        "minhash_banded": ("graft-minhash-banded", "documents.parquet"),
        "ngram_postings": ("graft-ngram-postings", "documents.parquet"),
        "phash": ("graft-phash", "documents.parquet"),
        # the winnow family name carries its K granularity — glob it
        "winnow_fps": ("graft-winnow-fps-k*", "documents.parquet"),
        "simhash": ("graft-simhash-sig", "documents.parquet"),
    }
    rows = con.sql(f"SELECT family, n_rows, bytes FROM '{files0}' "
                   "ORDER BY family").fetchall()
    if sorted(r[0] for r in rows) != sorted(fam_map):
        return False, f"families {sorted(r[0] for r in rows)} != {sorted(fam_map)}"
    root_file = os.path.join(out_dir, "artifact_root.txt")
    if not os.path.isfile(root_file):
        return False, f"{root_file} missing (cannot locate the artifacts)"
    with open(root_file) as f:
        tmp = f.read().strip()
    if not os.path.isdir(tmp):
        return False, f"artifact root {tmp} (from {root_file}) does not exist"
    parent = os.path.normpath(os.path.abspath(sf_dir))
    label = ("d" + hashlib.md5(parent.encode()).hexdigest()[:8] + "_"
             + re.sub(r"[^A-Za-z0-9._-]", "_", parent))
    # mirrors Storage.FormatTag: the version of a current substrate is
    # "<tag>m<manifest digest>", so a generation written under an older
    # tag (not yet retired) is not a candidate
    format_tag = "v3"
    for family, n_rows, n_bytes in rows:
        fam_glob, table = fam_map[family]
        mtime_ms = int(os.path.getmtime(os.path.join(sf_dir, table)) * 1000)
        stem = f"{label}_{mtime_ms}_{format_tag}m"
        cands = [d for d in glob.glob(f"{tmp}/{fam_glob}/{stem}*")
                 if os.path.isdir(d)
                 and ".build-" not in d and ".old-" not in d]
        if len(cands) != 1:
            return False, (f"{family}: {len(cands)} candidate artifact dirs "
                           f"for {stem} (cannot witness)")
        # skip '.<name>.crc' checksum shadows: Hadoop's LocalFileSystem
        # writes them but getContentSummary (what the query reports)
        # excludes checksum files — they are FS bookkeeping, not bytes
        want_bytes = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, fls in os.walk(cands[0]) for f in fls
            if not f.startswith("."))
        want_rows = con.sql(
            f"SELECT count(*) FROM '{cands[0]}/*.parquet'").fetchone()[0]
        if (n_rows, n_bytes) != (want_rows, want_bytes):
            return False, (f"{family}: spark (rows={n_rows}, bytes={n_bytes}) "
                           f"vs walk (rows={want_rows}, bytes={want_bytes})")
    return True, (f"{len(rows)} families, bytes match os.walk and "
                  "row counts match a duckdb re-read")


BIG_ROWS = 2_000_000


def gate_types_and_cols(mine, mine_cols, or_rel):
    """Shared type-class + column-set gate (small and big paths must not
    diverge — the q_pack_sequences decimal lesson applies to both).
    Returns an error string, or None when both gates pass.
    """
    or_cols = sorted(or_rel.columns)
    mine_types = {c: type_class(t) for c, t in zip(mine.columns, mine.types)}
    or_types = {c: type_class(t) for c, t in zip(or_rel.columns, or_rel.types)}
    type_diffs = [
        f"{c}: spark={mine_types[c]} oracle={or_types[c]}"
        for c in sorted(set(mine_types) & set(or_types))
        if mine_types[c] != or_types[c]]
    if type_diffs:
        return f"type-class mismatch ({'; '.join(type_diffs)})"
    if mine_cols != or_cols:
        return f"columns {mine_cols} vs oracle {or_cols}"
    return None


def big_compare(con, files0, mine, mine_cols, oracle_sql):
    """Engine-side exact compare for outputs too large to repr-canon.

    Multiset equality: equal counts + one empty EXCEPT ALL over the
    name-sorted column projection. This is the DRIVER's semantics — its
    gate row-sorts both sides before hashing, so row order is not part
    of the graded contract (the small path's positional compare is
    EXTRA strictness this path does not keep; ORDER BY correctness of
    big-tier queries is still exercised at every smaller SF). Value
    comparison is engine-native: NULLs and NaNs group as equal, doubles
    compare bitwise. Every step that executes the oracle is guarded —
    a runtime oracle error (OOM, cast) must record a FAIL for THIS
    query, not crash the whole gate.
    """
    try:
        or_rel = con.sql(oracle_sql)
    except Exception as e:
        return False, f"oracle SQL error: {e}"
    gate_err = gate_types_and_cols(mine, mine_cols, or_rel)
    if gate_err is not None:
        return False, gate_err
    cols = ", ".join(f'"{c}"' for c in mine_cols)
    con.execute("DROP TABLE IF EXISTS __oracle_big")
    try:
        # materialize the oracle once (count + EXCEPT read it); this is
        # where the oracle actually RUNS, so it needs the guard too
        con.execute(f"CREATE TEMP TABLE __oracle_big AS SELECT {cols} "
                    f"FROM ({oracle_sql})")
        n_mine, n_or = con.sql(
            f"SELECT (SELECT count(*) FROM '{files0}'), "
            f"(SELECT count(*) FROM __oracle_big)").fetchone()
        if n_mine != n_or:
            return False, f"{n_mine} rows vs oracle {n_or}"
        # one direction suffices: |A| = |B| and A∖B = ∅ (multiset) force
        # B∖A = ∅ — the reverse EXCEPT would re-scan 100M+ rows for a
        # condition that provably cannot fire
        extra = con.sql(
            f"SELECT count(*) FROM (SELECT {cols} FROM '{files0}' "
            f"EXCEPT ALL SELECT {cols} FROM __oracle_big)").fetchone()[0]
        if extra:
            return False, f"{extra} spark rows not in the oracle multiset"
        return True, f"{n_mine} rows, multiset-equal"
    except Exception as e:
        return False, f"oracle/compare runtime error: {e}"
    finally:
        con.execute("DROP TABLE IF EXISTS __oracle_big")


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            # Spark-written table (the 10x decade stand-in): a DIRECTORY
            # named t.parquet holding part files — DuckDB needs the glob
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)

    got_dirs = sorted(
        d for d in os.listdir(out_dir)
        if os.path.isdir(os.path.join(out_dir, d)))
    n_pass = n_fail = 0
    for name in got_dirs:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no parquet output")
            n_fail += 1
            continue
        unsortable = driver_sortable(files)
        if unsortable is not None:
            print(f"FAIL {name}: driver-unhashable output "
                  f"(pandas sort_values: {unsortable})")
            n_fail += 1
            continue
        mine = con.sql(f"SELECT * FROM '{files[0]}'")
        mine_cols = sorted(mine.columns)
        n_mine = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        # Outputs past the canon budget (the sf10 tier: 121M-row
        # fileindex / 61M-row window tables) are compared INSIDE DuckDB:
        # Python-side repr-canon at that volume is hours-to-never, while
        # EXCEPT ALL is an exact multiset compare (NULL/NaN-grouped like
        # the set ops spec) the engine streams. The small-output path
        # below stays byte-identical to the driver's repr-canon gate.
        if name in oracles and n_mine > BIG_ROWS:
            # glob, not files[0]: Verify coalesce(1)s today, but a
            # multi-part output must not silently compare one shard
            ok, msg = big_compare(con, f"{out_dir}/{name}/*.parquet",
                                  mine, mine_cols, oracles[name])
            if ok:
                print(f"PASS {name} (duckdb multiset): {msg}")
                n_pass += 1
            else:
                print(f"FAIL {name} (duckdb multiset): {msg}")
                n_fail += 1
            continue
        mine_rows = con.sql(f"SELECT * FROM '{files[0]}'").fetchall()
        mine_idx = [mine.columns.index(c) for c in mine_cols]
        mine_canon = [tuple(canon(r[i]) for i in mine_idx) for r in mine_rows]
        if name not in oracles:
            witness = {
                "q_compression_ratio": ("zlib witness",
                                        lambda: gzip_witness(con, files[0])),
                "q_substrate_stats": ("byte witness",
                                      lambda: substrate_stats_witness(
                                          con, files[0], sf_dir, out_dir)),
                "q_agg_approx_distinct": ("tolerance witness",
                                          lambda: approx_distinct_witness(con, files[0])),
                "q_agg_approx_quantile": ("tolerance witness",
                                          lambda: approx_quantile_witness(con, files[0])),
            }.get(name)
            if witness is not None:
                label, run = witness
                ok, msg = run()
                print(f"{'PASS' if ok else 'FAIL'} {name} ({label}): {msg}")
                if ok:
                    n_pass += 1
                else:
                    n_fail += 1
                continue
            status = "ROWS-ONLY" if len(mine_rows) >= 0 else "??"
            print(f"{status} {name}: {len(mine_rows)} rows (no oracle)")
            continue
        try:
            or_rel = con.sql(oracles[name])
            or_cols = sorted(or_rel.columns)
            or_idx = [or_rel.columns.index(c) for c in or_cols]
            or_rows = or_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        or_canon = [tuple(canon(r[i]) for i in or_idx) for r in or_rows]
        gate_err = gate_types_and_cols(mine, mine_cols, or_rel)
        if gate_err is not None:
            print(f"FAIL {name}: {gate_err}")
            n_fail += 1
        elif len(mine_canon) != len(or_canon):
            print(f"FAIL {name}: {len(mine_canon)} rows vs oracle {len(or_canon)}")
            n_fail += 1
        elif mine_canon != or_canon:
            bad = next(i for i, (a, b) in enumerate(zip(mine_canon, or_canon)) if a != b)
            print(f"FAIL {name}: first diff at row {bad}:")
            print(f"  mine:   {mine_canon[bad]}")
            print(f"  oracle: {or_canon[bad]}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(mine_canon)} rows")
            n_pass += 1
    missing = set(oracles) - set(got_dirs)
    for name in sorted(missing):
        print(f"FAIL {name}: oracle declared but no output dir")
        n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, "
          f"{len(got_dirs) - n_pass - n_fail} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
