"""Seeded, deterministic base tables for the benchmark.

The engine's synthetic world (``terrakit_spark.synth``) derives labels,
scenes and media from two base tables: ``events`` (one label diamond per
``event_id % 3 == 0``, one scene per ``event_id % 5 == 0``) and
``documents`` (one media point per four text tokens). This module writes
those tables, plus small stand-ins for the other eight base tables the
engine registers as views, as parquet files from a seed alone.

The seed picks an id offset (the ``scripts/gen_sf.py`` transform: a
shift of every id). Offsets are multiples of ``ID_STEP``, so every id
keeps the residues the synthetic world derives membership, dates and
shapes from: label (mod 3) and scene (mod 5) membership, the hotspot
(mod 10), the scene shape (mod 25), the chip_write scene subset
(mod 625), label dates (mod 60) and scene dates (mod 67). Row counts per
table, the as-of match and the chip count are therefore the same for
every seed; the positions of labels, scenes and media, which key on other
residues (mod 16, 97, 340, ...), and the pixel values move with the seed.
Documents shift by multiples of 97, the period of their token counts, so
the media count is fixed too.
"""

from __future__ import annotations

import os

import numpy as np

ID_STEP = 502_500  # lcm(60, 67, 625), a multiple of 3, 5, 10 and 25
DOC_STEP = 97
N_EMBEDDINGS = 64
EMB_DIM = 16
# text token count per document: 8 + ((doc_id * 37) % 97), so the media
# count (tokens // 4) cycles over doc_id with period DOC_STEP
VOCAB = ["spark", "scene", "label", "chip", "tile", "band", "pixel", "cloud",
         "river", "flood", "burn", "field", "road", "coast", "snow", "urban"]


def offsets(seed: int) -> tuple[int, int]:
    """(event id offset, document id offset) for a seed."""
    rng = np.random.default_rng(seed)
    return int(rng.integers(0, 1 << 16)) * ID_STEP, int(rng.integers(0, 1 << 16)) * DOC_STEP


def write_inputs(seed: int, out_dir: str, n_events: int, n_docs: int) -> dict[str, int]:
    """Write the ten base tables under out_dir/<table>.parquet, with
    n_events events and n_docs documents; returns row counts per table."""
    import duckdb

    ev_off, doc_off = offsets(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    tables = {
        "events": f"""
            SELECT i + {ev_off} AS event_id,
                   TIMESTAMP '2024-01-01' + to_seconds(i * 7) AS ts,
                   CAST((i * 7919) % 2000 AS BIGINT) AS user_id,
                   ['view', 'click', 'error', 'signup'][1 + i % 4] AS event_type,
                   CAST((i * 37) % 10000 AS DOUBLE) / 100 AS value,
                   '{{"k": ' || (i % 97) || '}}' AS props
            FROM range({n_events}) t(i)""",
        "documents": f"""
            SELECT doc_id, text, 'en' AS lang, 'src' || (doc_id % 3) AS source,
                   CAST(length(text) AS BIGINT) AS n_chars
            FROM (SELECT i + {doc_off} AS doc_id,
                         array_to_string(list_transform(
                             range(8 + ((i + {doc_off}) * 37) % 97),
                             j -> {vocab}[1 + CAST(hash({seed}, i, j) % {len(VOCAB)} AS BIGINT)]), ' ') AS text
                  FROM range({n_docs}) t(i))""",
        "embeddings": f"""
            SELECT i + {ev_off} AS vec_id,
                   list_transform(range({EMB_DIM}),
                       j -> CAST((hash({seed}, i, j) % 2001) AS FLOAT) / 1000 - 1) AS embedding,
                   CAST(i % 4 AS INTEGER) AS label
            FROM range({N_EMBEDDINGS}) t(i)""",
        "region": "SELECT CAST(i AS INTEGER) AS r_regionkey, 'R' || i AS r_name FROM range(5) t(i)",
        "nation": """SELECT CAST(i AS INTEGER) AS n_nationkey, 'N' || i AS n_name,
                            CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)""",
        "customer": """SELECT i AS c_custkey, 'C' || i AS c_name, CAST(i % 25 AS INTEGER) AS c_nationkey,
                              CAST(i AS DOUBLE) AS c_acctbal, 'BUILDING' AS c_mktsegment
                       FROM range(1, 101) t(i)""",
        "supplier": """SELECT i AS s_suppkey, 'S' || i AS s_name, CAST(i % 25 AS INTEGER) AS s_nationkey,
                              CAST(i AS DOUBLE) AS s_acctbal FROM range(1, 11) t(i)""",
        "part": """SELECT i AS p_partkey, 'P' || i AS p_name, 'Brand#1' AS p_brand, 'STEEL' AS p_type,
                          CAST(i % 50 AS INTEGER) AS p_size, CAST(i AS DOUBLE) AS p_retailprice
                   FROM range(1, 101) t(i)""",
        "orders": """SELECT i AS o_orderkey, 1 + i % 100 AS o_custkey, 'O' AS o_orderstatus,
                            CAST(i AS DOUBLE) AS o_totalprice,
                            TIMESTAMP '2024-01-01' + to_days(CAST(i % 300 AS INTEGER)) AS o_orderdate,
                            '1-URGENT' AS o_orderpriority FROM range(1, 101) t(i)""",
        "lineitem": """SELECT 1 + i // 4 AS l_orderkey, 1 + i % 100 AS l_partkey, 1 + i % 10 AS l_suppkey,
                              CAST(1 + i % 4 AS INTEGER) AS l_linenumber, CAST(1 + i % 50 AS DOUBLE) AS l_quantity,
                              CAST(i AS DOUBLE) AS l_extendedprice, 0.05 AS l_discount, 0.02 AS l_tax,
                              'N' AS l_returnflag, 'O' AS l_linestatus,
                              TIMESTAMP '2024-01-01' + to_days(CAST(i % 300 AS INTEGER)) AS l_shipdate
                       FROM range(400) t(i)""",
    }
    counts = {}
    con = duckdb.connect()
    try:
        for name, sql in tables.items():
            path = os.path.join(out_dir, f"{name}.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
            counts[name] = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
    finally:
        con.close()
    return counts
