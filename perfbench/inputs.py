"""Seeded benchmark inputs.

The tables have the schemas, row counts and value ranges of the sf0.1
test tables (``lineitem``, ``documents``, ``events``, ``customer``). They
are generated here from a fixed generator seed, so the benchmark reads
nothing outside its own checkout. ``--seed`` then permutes the rows and
places the nulls: sizes, null counts, page counts and types do not
depend on it.

Pages are written by pyarrow at Parquet's default 1 MiB page size and
sliced out of the files with the program's own footer and page-header
walk (``core/parquetmeta``).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import pickle
import subprocess
import sys
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GENERATOR_SEED = 42
PAGE_SIZE = 1 << 20
NULL_SHARE = 0.05

_WORDS = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)


def lineitem(rows: int = 600_000) -> pa.Table:
    rng = np.random.default_rng(GENERATOR_SEED)
    quantity = rng.integers(1, 51, rows).astype(np.float64)
    base = rng.integers(90_068, 2_099_998, rows) / 100.0
    ship_day = rng.integers(0, 2499, rows)
    epoch = dt.datetime(1995, 1, 2)
    return pa.table(
        {
            "l_orderkey": rng.integers(0, 150_000, rows),
            "l_partkey": rng.integers(0, 20_000, rows),
            "l_suppkey": rng.integers(0, 1_000, rows),
            "l_linenumber": rng.integers(1, 8, rows).astype(np.int32),
            "l_quantity": quantity,
            "l_extendedprice": np.round(np.minimum(base * quantity / 10, 104_999.91), 2),
            "l_discount": rng.integers(0, 11, rows) / 100.0,
            "l_tax": rng.integers(0, 9, rows) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, rows)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, rows)]),
            "l_shipdate": pa.array(
                (np.datetime64(epoch, "us") + ship_day.astype("timedelta64[D]")).astype(
                    "datetime64[us]"
                )
            ),
        }
    )


def documents(rows: int = 5_000) -> pa.Table:
    rng = np.random.default_rng(GENERATOR_SEED + 1)
    n_words = rng.integers(8, 100, rows)
    words = _WORDS[rng.integers(0, len(_WORDS), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    return pa.table({"text": pa.array([" ".join(words[e - n : e]) for n, e in zip(n_words, ends)])})


def events(rows: int = 100_000) -> pa.Table:
    rng = np.random.default_rng(GENERATOR_SEED + 2)
    kinds = np.array(["error", "view", "signup", "purchase", "click"])
    return pa.table(
        {
            "event_type": pa.array(kinds[rng.integers(0, 5, rows)]),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
        }
    )


def customer(rows: int = 15_000) -> pa.Table:
    return pa.table({"c_name": pa.array([f"Customer#{i:09d}" for i in range(rows)])})


def seeded(table: pa.Table, seed: int, null_columns: tuple[str, ...]) -> pa.Table:
    """Permute the rows and null out exactly ``NULL_SHARE`` of each named
    column at seeded positions."""
    rng = np.random.default_rng(seed)
    n = table.num_rows
    table = table.take(pa.array(rng.permutation(n)))
    for name in null_columns:
        mask = np.zeros(n, dtype=bool)
        mask[rng.choice(n, int(n * NULL_SHARE), replace=False)] = True
        col = table.column(name)
        nulled = pc.if_else(pa.array(mask), pa.nulls(n, type=col.type), col)
        table = table.set_column(table.schema.get_field_index(name), name, nulled)
    return table


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------


@dataclass
class Page:
    """One Parquet page as the protection agent receives it."""

    file: str
    column: str
    index: int
    payload: bytes
    attrs: dict[str, str]
    datatype: str  # PhysicalType name
    datatype_length: int | None
    codec: str  # CompressionCodec name
    encoding: str
    page_type: str
    plaintext_bytes: int  # uncompressed page size
    max_def: int
    expected_mode: str = field(init=False)

    def __post_init__(self):
        fallback = self.encoding != "PLAIN" or self.datatype == "BOOLEAN"
        self.expected_mode = "per_block" if fallback else "per_value"

    @property
    def mode_key(self) -> str:
        if self.page_type == "DICTIONARY_PAGE":
            return "encrypt_mode_dict_page"
        return "encrypt_mode_data_page"


#: (file name, writer settings, columns) — every page kind the agent must
#: handle: V1/SNAPPY and V2/UNCOMPRESSED PLAIN pages of each physical type,
#: dictionary pages, and RLE_DICTIONARY and BOOLEAN pages that fall back
#: to per-block protection
PAGE_FILES = (
    (
        "v1_snappy",
        dict(data_page_version="1.0", compression="snappy", use_dictionary=False),
        ("li.l_orderkey", "li.l_linenumber", "li.l_extendedprice", "li.l_discount_f32",
         "li.l_price_dec", "cu.c_name", "do.text", "ev.props"),
    ),
    (
        "v2_plain",
        dict(data_page_version="2.0", compression="none", use_dictionary=False),
        ("li.l_partkey", "li.l_linenumber", "li.l_quantity", "li.l_tax_f32",
         "li.l_price_dec", "do.text", "ev.event_type"),
    ),
    (
        "dictionary",
        dict(data_page_version="1.0", compression="snappy", use_dictionary=True),
        ("li.l_returnflag", "li.l_discount", "ev.event_type"),
    ),
    (
        "boolean",
        dict(data_page_version="1.0", compression="snappy", use_dictionary=False),
        ("li.l_is_return",),
    ),
)

#: columns that carry seeded nulls
NULL_COLUMNS = {
    "li": ("l_orderkey", "l_extendedprice", "l_partkey", "l_returnflag"),
    "cu": ("c_name",),
    "do": (),
    "ev": ("props",),
}


def page_tables(seed: int) -> dict[str, pa.Table]:
    li = lineitem()
    li = li.append_column("l_discount_f32", pc.cast(li["l_discount"], pa.float32()))
    li = li.append_column("l_tax_f32", pc.cast(li["l_tax"], pa.float32()))
    li = li.append_column(
        "l_price_dec", pc.cast(li["l_extendedprice"], pa.decimal128(12, 2))
    )
    li = li.append_column("l_is_return", pc.equal(li["l_returnflag"], "R"))
    raw = {"li": li, "cu": customer(), "do": documents(), "ev": events()}
    return {
        key: seeded(t, seed + i, NULL_COLUMNS[key])
        for i, (key, t) in enumerate(sorted(raw.items()))
    }


def _write(tables: dict[str, pa.Table], columns, settings) -> list[tuple[str, bytes]]:
    """One Parquet file per source table; returns (table key, file bytes)."""
    out = []
    for key in sorted({c.split(".")[0] for c in columns}):
        names = [c.split(".")[1] for c in columns if c.startswith(key + ".")]
        sink = pa.BufferOutputStream()
        pq.write_table(
            tables[key].select(names), sink, data_page_size=PAGE_SIZE,
            write_statistics=False, **settings,
        )
        out.append((key, sink.getvalue().to_pybytes()))
    return out


def build_pages(seed: int) -> tuple[list[Page], str]:
    """All pages of all page files, plus a sha256 digest of the files."""
    from databatchprotectionservice_spark.core import parquetmeta as pm

    tables = page_tables(seed)
    digest = hashlib.sha256()
    pages: list[Page] = []
    for fname, settings, columns in PAGE_FILES:
        codec = "SNAPPY" if settings["compression"] == "snappy" else "UNCOMPRESSED"
        for key, data in _write(tables, columns, settings):
            digest.update(data)
            meta = pm.parse_footer(data)
            leaves = [s for s in meta["schema"][1:] if s["num_children"] == 0]
            for col, leaf in zip(meta["row_groups"][0]["columns"], leaves):
                max_def = 1 if leaf["repetition"] == "OPTIONAL" else 0
                for i, p in enumerate(pm.walk_pages(data, col)):
                    start = p["data_offset"]
                    pages.append(
                        _page(fname, col, leaf, i, p, data[start : start + p["compressed_page_size"]],
                              codec, max_def)
                    )
    return pages, digest.hexdigest()


def _page(fname, col, leaf, i, p, payload, codec, max_def) -> Page:
    from databatchprotectionservice_spark.core import parquetmeta as pm
    from databatchprotectionservice_spark.core.types import Encoding

    if p["type"] == pm.PAGE_DICTIONARY:
        page_type = "DICTIONARY_PAGE"
        # a dictionary page holds PLAIN values whichever id the writer stamped
        encoding = "PLAIN"
        attrs = {"dict_page_num_values": str(p["num_values"])}
    else:
        page_type = "DATA_PAGE_V2" if p["type"] == pm.PAGE_DATA_V2 else "DATA_PAGE_V1"
        encoding = Encoding(p["encoding"]).name
        if encoding == "PLAIN_DICTIONARY":
            encoding = "RLE_DICTIONARY"
        attrs = {
            "data_page_num_values": str(p["num_values"]),
            "data_page_max_definition_level": str(max_def),
            "data_page_max_repetition_level": "0",
        }
        if page_type == "DATA_PAGE_V1":
            attrs["page_v1_definition_level_encoding"] = "RLE"
            attrs["page_v1_repetition_level_encoding"] = "RLE"
        else:
            attrs["page_v2_definition_levels_byte_length"] = str(p["definition_levels_byte_length"])
            attrs["page_v2_repetition_levels_byte_length"] = str(p["repetition_levels_byte_length"])
            attrs["page_v2_num_nulls"] = str(p["num_nulls"])
            attrs["page_v2_is_compressed"] = "true" if p["is_compressed"] else "false"
    attrs["page_type"] = page_type
    attrs["page_encoding"] = encoding
    return Page(
        file=fname,
        column=col["path_in_schema"],
        index=i,
        payload=payload,
        attrs=attrs,
        datatype=col["type"],
        datatype_length=leaf["type_length"] if col["type"] == "FIXED_LEN_BYTE_ARRAY" else None,
        codec=codec,
        encoding=encoding,
        page_type=page_type,
        plaintext_bytes=p["uncompressed_page_size"],
        max_def=max_def,
    )


# ---------------------------------------------------------------------------
# spark_table inputs
# ---------------------------------------------------------------------------

SPARK_FILES = 4
#: protected columns and their key ids: a long, a double, a string and a
#: timestamp
SPARK_COLUMNS = {
    "l_orderkey": "k_orderkey",
    "l_extendedprice": "k_price",
    "l_returnflag": "k_flag",
    "l_shipdate": "k_shipdate",
}
SPARK_NULL_COLUMNS = ("l_extendedprice", "l_returnflag")


def spark_table(seed: int) -> pa.Table:
    return seeded(lineitem(), seed, SPARK_NULL_COLUMNS)


def write_spark_files(table: pa.Table, directory: str) -> str:
    """Split ``table`` into equal files; returns a sha256 of their bytes."""
    digest = hashlib.sha256()
    step = table.num_rows // SPARK_FILES
    for i in range(SPARK_FILES):
        sink = pa.BufferOutputStream()
        pq.write_table(table.slice(i * step, step), sink, compression="snappy")
        data = sink.getvalue().to_pybytes()
        digest.update(data)
        with open(f"{directory}/part-{i:02d}.parquet", "wb") as f:
            f.write(data)
    return digest.hexdigest()


# ---------------------------------------------------------------------------
# building the inputs in a child process
# ---------------------------------------------------------------------------


def write_inputs(kind: str, seed: int, out: str) -> str:
    """Build one workload's inputs and store them at ``out``: the pages,
    pickled, for ``pages``; the Parquet files of the Spark table, in the
    new directory ``out``, for ``spark``. Returns the inputs' digest."""
    if kind == "pages":
        pages, digest = build_pages(seed)
        with open(out, "wb") as f:
            pickle.dump(pages, f, protocol=pickle.HIGHEST_PROTOCOL)
        return digest
    os.makedirs(out)
    return write_spark_files(spark_table(seed), out)


def build_in_child(kind: str, seed: int, out: str) -> str:
    """``write_inputs`` in a child process; returns the digest.

    Generating and writing the tables takes more memory than any protect
    call, so building them in the benchmark process would set its peak
    resident set and hide the workload's own peak (``peak_rss_mb``)."""
    code = "import sys, inputs; print(inputs.write_inputs(sys.argv[1], int(sys.argv[2]), sys.argv[3]))"
    proc = subprocess.run([sys.executable, "-c", code, kind, str(seed), out],
                          stdout=subprocess.PIPE, text=True, check=True)
    return proc.stdout.split()[-1]


def load_pages(path: str) -> list[Page]:
    with open(path, "rb") as f:
        return pickle.load(f)
