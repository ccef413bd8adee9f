"""The oracle contract in one place: every registered query must match
its DuckDB oracle bit for bit.

``duck`` builds the oracle side over a data directory and ``compare``
checks an engine result against an oracle relation. The rule, in order:
the sorted lower-cased column names; each column's Arrow-level type
(the driver's value hash is type-sensitive: a DuckDB HUGEINT hashes
differently from a Spark BIGINT of equal value); that the driver can
sort the engine rows; and the rows, each the ``repr`` of its values in
sorted-column order, as sorted lists. Floats are never rounded: the
deterministic-aggregation discipline (``functions/deterministic.py``)
makes both engines produce bit-identical doubles, and a tolerance would
hide a regression in it.

The scale sweep (``scripts/driver_sim.py --scale``) adds three things
kept here: ``CAP``, above which only row counts are compared; ``SKIP``,
the oracles whose DuckDB replay is quadratic in a twin-replicated
corpus; and ``BLOCKED``, the pair-local dedup queries whose oracle
replays on a deterministic key block while the engine runs at full
scale. Every query in ``BLOCKED`` is pair-local: each output row is a
function of its two member docs alone (row-local signatures, buckets
and token sets; no global statistics, rank-based vocabularies or
cluster representatives), so the full-corpus output restricted to pairs
with both members in a ``key % mod = 0`` block equals the output
computed on the block-only corpus. Under ``gen_sf_scaleup.py``'s key
shifting (copy c adds c*STRIDE) consecutive copies of a doc land in
different residues, so a 1/97 block samples across twin classes and
cuts each class-quadratic pair count ~9400x. ``tests/test_blocked_oracle.py``
pins the equality at sf0.001 for every name.

No Spark import at module level: the rule is tested without a JVM
(``tests/test_oracle.py``).
"""

from __future__ import annotations

import os
from pathlib import Path

import duckdb
import pyarrow as pa

CAP = 200_000  # above this many engine rows, compare row counts only

BLOCK_MOD = 97
# blockable table -> its key column
BLOCK_KEYS = {"documents": "doc_id", "embeddings": "vec_id"}
# query -> the engine output columns holding the pair's two member keys
BLOCKED: dict[str, tuple[str, str]] = {
    "llm_dedup_minhash": ("doc_a", "doc_b"),
    "llm_dedup_simhash": ("doc_a", "doc_b"),
    "llm_dedup_simhash_multiband": ("doc_a", "doc_b"),
    "llm_dedup_ngram": ("doc_a", "doc_b"),
    "llm_dedup_containment": ("doc_a", "doc_b"),
    "llm_dedup_incremental": ("new_doc", "dup_of"),
    "llm_dedup_signature_store": ("new_doc", "dup_of"),
    "llm_dedup_embcos": ("vec_a", "vec_b"),
}

SKIP = {
    "llm_dedup_minhash_dict", "llm_semdedup",
    # all-pairs truth joins are the recall AUDIT harness: quadratic in
    # the twin-replicated corpus by design
    "llm_dedup_minhash_recall", "llm_similarity_recall",
    "llm_similarity_projected_recall", "llm_similarity_sq8_recall",
    "stream_ingest_dedup",
    # kNN-graph rung: n_cells/n_planes are pinned (32/32) for oracle
    # determinism, so at a 10-30x slice the per-group population grows
    # linearly and the within-group pair relation quadratically on both
    # engines. The scaled graph lifecycle runs in-sweep as the
    # llm_similarity_graph_prod trio (deployment knobs, exact-cosine
    # panel oracle, linear on both engines).
    "llm_similarity_graph_refine", "llm_similarity_graph_recall",
    "llm_similarity_graph_index", "llm_similarity_graph_incremental",
    "llm_similarity_graph_compact",
    "graph_pagerank", "graph_triangle_count",
    # recursive min-label CC oracles: the walk CTE's working set is
    # quadratic in cluster size, and the twin corpus makes the giant
    # cluster ~10x larger (~100x recursion rows on the DuckDB side)
    "llm_cluster_aware_split", "llm_corpus_curation",
    "llm_curation_funnel_report", "llm_dedup_cluster_summary",
    "llm_dedup_clusters",
}
# At the 100x rung the BPE-train oracle is the bottleneck: DuckDB's
# replay chains one CTE per merge over the full token relation and was
# cut off after 35 min; the sf1/sf3 replays are green.
SKIP_100X = {"llm_bpe_train", "llm_pack_sequences_bpe"}


def hundredfold(data_dir: str) -> bool:
    """Is ``data_dir`` a 100x-rung slice (``gen_sf_scaleup.py`` names)?"""
    return Path(data_dir).name.startswith(("sf10", "sf30", "sf100"))


def skip_list(data_dir: str) -> set[str]:
    return SKIP | SKIP_100X if hundredfold(data_dir) else SKIP


def duck(data_dir, block: int | None = None, **config) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``*.parquet`` table in
    ``data_dir``. With ``block`` set, the tables in ``BLOCK_KEYS`` keep
    only their ``key % block = 0`` rows. ``config`` goes to
    ``duckdb.connect`` (the scale sweep sets ``memory_limit`` and a
    spilling ``temp_directory``)."""
    tables = sorted(Path(data_dir).glob("*.parquet"))
    if not tables:
        raise FileNotFoundError(f"no *.parquet tables in {data_dir}")
    con = duckdb.connect(config=config)
    for table in tables:
        key = BLOCK_KEYS.get(table.stem) if block else None
        pred = f" WHERE {key} % {block} = 0" if key else ""
        con.execute(
            f"CREATE VIEW {table.stem} AS SELECT * FROM "
            f"read_parquet('{table}'){pred}"
        )
    return con


def materialize_block_dir(data_dir: str, mod: int = BLOCK_MOD) -> str:
    """A sibling directory ``<name>block<mod>`` whose blockable tables
    hold only the key block; the other tables symlink to ``data_dir``.
    At the 100x rung the engine side of a scored-pairs query is
    K^2-inflated (~10,000x the source pair count; containment alone ran
    past 25 min on 26 cores), so both sides run on the block there.
    Pair-locality makes that the same equality as the full-scale engine
    filtered to the block."""
    src = Path(data_dir).resolve()
    dst = src.parent / f"{src.name}block{mod}"
    marker = dst / "_BLOCKED"
    if marker.is_file():
        return str(dst)
    dst.mkdir(parents=True, exist_ok=True)
    with duck(src, block=mod) as con:
        for table in sorted(src.glob("*.parquet")):
            out = dst / table.name
            if table.stem in BLOCK_KEYS:
                con.execute(
                    f"COPY (SELECT * FROM {table.stem}) TO '{out}' (FORMAT PARQUET)"
                )
            elif not out.exists():
                os.symlink(table, out)
    marker.write_text(f"{src}\n{mod}\n")
    return str(dst)


_LEAVES = {
    "ByteType": "int8", "ShortType": "int16", "IntegerType": "int32",
    "LongType": "int64", "FloatType": "float32", "DoubleType": "float64",
    "StringType": "string", "BinaryType": "binary", "BooleanType": "bool",
    "DateType": "date", "TimestampType": "timestamp",
    "TimestampNTZType": "timestamp",
}
_ARROW_NAMES = {
    "float": "float32", "double": "float64", "large_string": "string",
    "large_binary": "binary",
}


def spark_canon_type(dt) -> str:
    """Spark DataType -> canonical Arrow-level type string (what the
    driver's value hash sees after Spark -> Arrow conversion). Decimal
    precision is dropped: decimal128 bytes of equal scale are equal."""
    kind = type(dt).__name__
    if kind == "DecimalType":
        return f"decimal128(s={dt.scale})"
    if kind == "ArrayType":
        return f"list<{spark_canon_type(dt.elementType)}>"
    if kind == "MapType":
        return f"map<{spark_canon_type(dt.keyType)},{spark_canon_type(dt.valueType)}>"
    if kind == "StructType":
        inner = ",".join(
            f"{f.name.lower()}:{spark_canon_type(f.dataType)}" for f in dt.fields
        )
        return f"struct<{inner}>"
    return _LEAVES.get(kind, f"?spark:{dt.simpleString()}")


def arrow_canon_type(t: pa.DataType) -> str:
    """pyarrow DataType (DuckDB's Arrow output) -> canonical string.
    Types Spark cannot produce (unsigned ints, ...) never match."""
    if pa.types.is_decimal(t):
        return f"decimal128(s={t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{arrow_canon_type(t.value_type)}>"
    if pa.types.is_map(t):
        return f"map<{arrow_canon_type(t.key_type)},{arrow_canon_type(t.item_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name.lower()}:{arrow_canon_type(t.field(i).type)}"
            for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    name = _ARROW_NAMES.get(str(t), str(t))
    return name if name in _LEAVES.values() else f"?arrow:{t}"


def canon(columns, rows) -> tuple[list[str], list[tuple[str, ...]]]:
    """The row rule: sorted lower-cased column names, and the sorted
    rows, each the ``repr`` of its values in sorted-column order."""
    cols = [c.lower() for c in columns]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(repr(r[i]) for i in idx) for r in rows)


def unsortable(columns, rows) -> str | None:
    """The driver canonicalizes with pandas ``sort_values`` over every
    column; array/map/struct cells are unhashable and raise there (how
    ``scalar_string`` and ``agg_collect_nested`` failed the driver)."""
    import pandas as pd

    try:
        pd.DataFrame(rows, columns=list(columns)).sort_values(list(columns))
    except TypeError as ex:
        return (
            f"not driver-sortable ({ex!r}): serialize a top-level "
            "array/map/struct column to a scalar (concat_ws / to_json)"
        )
    return None


def compare(df, rel, *, cap: int | None = None, block=None) -> tuple[int, list[str]]:
    """Check the engine result ``df`` (a Spark DataFrame) against the
    oracle relation ``rel``. Returns the engine row count and the
    problems found, none when the two match.

    ``cap``: the engine rows are counted first, and above ``cap`` only
    the row counts are compared (a repr diff of that many rows is too
    slow). ``block=(columns, mod)``: the engine side keeps only rows
    whose ``columns`` all fall in the ``key % mod = 0`` block (the
    oracle side comes from ``duck(..., block=mod)``), and an empty
    block is a problem, since it would match vacuously."""
    if block:
        cols, mod = block
        df = df.filter(" AND ".join(f"{c} % {mod} = 0" for c in cols))
    s_names, d_names = canon(df.columns, []), canon(rel.columns, [])
    if s_names != d_names:
        return 0, [f"columns engine={s_names[0]} oracle={d_names[0]}"]
    s_types = {f.name.lower(): spark_canon_type(f.dataType) for f in df.schema.fields}
    d_types = {f.name.lower(): arrow_canon_type(f.type) for f in rel.limit(0).arrow().schema}
    problems = [
        f"type {c}: engine={s_types[c]} oracle={d_types[c]}"
        for c in sorted(s_types)
        if s_types[c] != d_types[c]
    ]
    if cap is not None:
        n = df.count()
        if n > cap:
            dn = rel.aggregate("count(*)").fetchone()[0]
            return n, problems + ([] if n == dn else [f"rowcount engine={n} oracle={dn}"])
    s_rows = [tuple(r) for r in df.collect()]
    unsorted = unsortable(df.columns, s_rows)
    if unsorted:
        problems.append(unsorted)
    ss, dd = canon(df.columns, s_rows)[1], canon(rel.columns, rel.fetchall())[1]
    if ss != dd:
        first = next(((a, b) for a, b in zip(ss, dd) if a != b), None)
        problems.append(
            f"rows engine={len(ss)} oracle={len(dd)}"
            + (f"; first difference engine={first[0]} oracle={first[1]}" if first else "")
        )
    if block and not ss:
        problems.append("empty block: the equality would hold vacuously")
    return len(s_rows), problems
