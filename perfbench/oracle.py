"""Correctness of a pass: the digest of the committed triples against the
digest of the DuckDB oracle ``ORACLE_REGISTRY["kg_canonical_triples"]``.

The digest is a SHA-256 over the sorted ``(subj, pred, obj, surface)``
rows, so it does not depend on row order, file layout or bucketing.  The
oracle takes about 45 s at sf0.1, so its digest is derived once per
checkout and cached, keyed by the oracle SQL and the input file.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

COLUMNS = ("subj", "pred", "obj", "surface")


def table_digest(table: pa.Table) -> str:
    """SHA-256 of the ``COLUMNS`` rows in byte order, fields joined by US
    and each row ended by LF (a NULL field reads ``\\N``)."""
    table = table.select(COLUMNS).sort_by([(c, "ascending") for c in COLUMNS])
    lines = pc.binary_join_element_wise(
        *(table[c] for c in COLUMNS), "\x1f",
        null_handling="replace", null_replacement="\\N",
    ).to_pylist()
    return hashlib.sha256(
        "".join(line + "\n" for line in lines).encode()
    ).hexdigest()


def file_sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def oracle_digest(docs_path: str, cache_path: str, tmp_dir: str) -> dict:
    """``{"rows", "digest", "derive_s"}`` of the DuckDB oracle on the
    documents file at ``docs_path``; cached in ``cache_path``."""
    from ehr_ner_spark.entrypoints import ORACLE_REGISTRY

    sql = ORACLE_REGISTRY["kg_canonical_triples"]
    key = hashlib.sha256(
        (sql + file_sha256(docs_path)).encode()
    ).hexdigest()
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
        if cached.get("key") == key:
            return {**cached, "derive_s": 0.0}

    import duckdb

    t0 = time.perf_counter()
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{tmp_dir}'")
        con.execute("SET autoinstall_known_extensions=false")
        con.execute("SET autoload_known_extensions=false")
        con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{docs_path}')"
        )
        tbl = con.execute(
            f"SELECT {', '.join(COLUMNS)} FROM ({sql})"
        ).arrow()
    finally:
        con.close()
    out = {"key": key, "rows": tbl.num_rows, "digest": table_digest(tbl)}
    with open(cache_path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(cache_path + ".tmp", cache_path)
    return {**out, "derive_s": time.perf_counter() - t0}


def committed_triples(table_root: str) -> dict:
    """Digest, row count and distinct documents of the ``triples`` stage
    exactly as the table's CURRENT manifest lists it."""
    from ehr_ner_spark.io.icetable import IceTable

    snap = IceTable(table_root).current_snapshot()
    files = [
        os.path.join(table_root, f)
        for b in snap["stages"]["triples"]["buckets"].values()
        for f in b["files"]
    ]
    table = pa.concat_tables(
        pq.read_table(fp, columns=[*COLUMNS, "doc_id"]) for fp in files)
    return {"rows": table.num_rows, "digest": table_digest(table),
            "docs": pc.count_distinct(table["doc_id"]).as_py()}
