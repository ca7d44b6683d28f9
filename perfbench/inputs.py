"""Seeded benchmark inputs, generated by DuckDB and NumPy.

The inputs are made here, not by the library, so a change to the
program cannot change what the benchmark feeds it.  The images table
follows the planted-violation recipe of ``sources/images.py``
(FIXTURES.md §1): the same columns, value ranges and modulus rules, with
DuckDB's ``hash`` in place of Spark's ``xxhash64``.  The seed picks the
id window the rows are generated from and salts every hash.
"""

from __future__ import annotations

import os

import numpy as np

#: ids stay below 2**47, so ``img_%012x`` ids keep 12 hex digits
_ID_WINDOW = 1 << 24

#: length of the seeded word sequence captions are sliced from
_TEXT_WORDS = 20_000

_VOCAB = [
    "cat", "dog", "sunset", "mountain", "river", "portrait", "street",
    "macro", "night", "forest", "ocean", "city", "bird", "flower", "cloud",
    "vintage", "abstract", "light", "shadow", "mirror", "window", "bridge",
    "train", "market", "festival", "rain", "snow", "desert", "island",
    "garden", "museum", "library", "harbor", "canyon", "glacier", "meadow",
]


def _images_sql(lo: int, hi: int, seed: int) -> str:
    u = lambda salt: (f"((hash(id, {salt}, {seed}) % 1000000)"  # noqa: E731
                      f" / 1000000.0)")
    log_uniform = lambda salt: (  # noqa: E731
        f"floor(exp(ln(16) + {u(salt)} * (ln(4096) - ln(16))))::INTEGER")
    base = lambda j: (  # noqa: E731
        f"(((CASE WHEN {j} % 333 = 5 AND {j} > 0 THEN {j} - 1 ELSE {j} END)"
        f"::HUGEINT * 2654435761) % ((1::HUGEINT << 61) - 1))::BIGINT")
    return f"""
    WITH ids AS (SELECT range AS id FROM range({lo}, {hi})),
    cols AS (
      SELECT id,
        CASE WHEN id % 200 = 7 AND id > 0 THEN id - 1 ELSE id END AS dup,
        CASE WHEN id % 500 = 11 THEN 0 WHEN id % 500 = 211 THEN 20000
             ELSE {log_uniform(1)} END AS w,
        CASE WHEN id % 500 = 311 THEN -3 ELSE {log_uniform(2)} END AS h,
        CASE WHEN id % 100 = 37 THEN 'bmp' WHEN id % 100 = 73 THEN ''
             WHEN {u(6)} < 0.80 THEN 'jpeg' WHEN {u(6)} < 0.95 THEN 'png'
             ELSE 'webp' END AS fmt,
        (CASE WHEN {u(5)} < 0.7 THEN 5 + hash(id, 3, {seed}) % 11
              ELSE 60 + hash(id, 4, {seed}) % 121 END)::BIGINT AS n_words,
        (hash(id, 7, {seed}) % {_TEXT_WORDS - 180})::BIGINT AS k0
      FROM ids),
    rows AS (
      SELECT cols.*,
        greatest(w, 1) AS pw, greatest(h, 1) AS ph,
        CASE WHEN id % 200 = 3 THEN NULL
             WHEN id % 500 = 101 THEN ''
             WHEN id % 1000 = 207 THEN repeat('x', 3000)
             ELSE substr(a.rest, 1, b.pos - a.pos - 1) END AS caption
      FROM cols
        JOIN word_pos a ON a.k = cols.k0
        JOIN word_pos b ON b.k = cols.k0 + cols.n_words)
    SELECT
      CASE WHEN id % 1000 = 13 THEN printf('IMG-%012X', dup)
           ELSE printf('img_%012x', dup) END AS image_id,
      CASE WHEN id % 1000 = 41
           THEN encode(substr('IMG0' || printf('%04X', pw), 1, 8))
           ELSE encode('IMG0' || printf('%04X', pw) || printf('%04X', ph)
                       || substr(md5(id::VARCHAR || '|' || fmt), 1, 4)
                       || substr(repeat(md5(id::VARCHAR), 8), 1,
                                 least(240, (pw * ph) // 65536 + 16)))
      END AS bytes,
      w, h, fmt, caption,
      CASE WHEN id % 389 = 9 AND id > 0
           THEN xor({base("(id - 1)")}, 1::BIGINT << (id % 58)::INTEGER)
           WHEN id % 389 = 97 AND id > 0
           THEN xor({base("(id - 1)")}, 7::BIGINT << (id % 58)::INTEGER)
           ELSE {base("id")} END AS phash,
      CASE WHEN id % 500 = 17 THEN 'lic_missing'
           ELSE 'lic_' || (id % 8)::VARCHAR END AS license_id
    FROM rows ORDER BY id"""


def _word_text(con, seed: int) -> None:
    """Register ``word_pos(k, pos, rest)`` over a seeded word sequence:
    where its k-th word starts, and the 180 words from there on.  A
    caption of n words is the slice of ``rest`` up to word k + n."""
    import pyarrow as pa
    rng = np.random.default_rng([seed, 36])
    words = [_VOCAB[i] for i in rng.integers(0, len(_VOCAB), _TEXT_WORDS)]
    pos = np.cumsum([1] + [len(w) + 1 for w in words]).astype(np.int64)
    rest = [" ".join(words[k:k + 180]) for k in range(len(words))]
    con.register("word_pos", pa.table({"k": np.arange(len(words)),
                                       "pos": pos[:-1], "rest": rest}))


def write_images(path: str, rows: int, seed: int, files: int = 8) -> None:
    """The north-star image+caption table (with ``license_id``) for
    `seed`: `files` parquet files of consecutive ids under `path`."""
    import duckdb
    os.makedirs(path, exist_ok=True)
    start = (seed % (1 << 23)) * _ID_WINDOW
    step = -(-rows // files)
    with duckdb.connect() as con:
        con.execute("SET enable_progress_bar = false")
        con.execute("SET memory_limit = '1GB'")
        con.execute("SET threads = 4")
        _word_text(con, seed)
        for i in range(files):
            lo, hi = start + i * step, start + min(rows, (i + 1) * step)
            con.execute(f"COPY ({_images_sql(lo, hi, seed)}) TO "
                        f"'{path}/part-{i:05d}.parquet' (FORMAT parquet)")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if f.endswith(".parquet"))


# ------------------------------------------------------------ wide tables
#
# Each column has one of six kinds; the contract reaches each kind's
# rules through ``$ref`` into ``$defs``.  Every kind plants about 1-1.5%
# violations; ``tag`` columns are required and NULL in 1% of rows.

KINDS = ("code", "pct", "level", "qty", "ratio", "tag")

WIDE_DEFS = {
    "code": {"type": "string", "pattern": "^[A-Z]{2}[0-9]{3}$"},
    "pct": {"type": "number", "minimum": 0, "maximum": 100,
            "multipleOf": 0.5},
    "level": {"enum": ["low", "mid", "high", "low_banned"],
              "not": {"enum": ["low_banned"]}},
    "qty": {"type": "integer", "if": {"minimum": 500},
            "then": {"multipleOf": 2}},
    "ratio": {"type": "number", "exclusiveMinimum": 0, "maximum": 1},
    "tag": {"type": "string", "minLength": 2, "maxLength": 8},
}


def wide_columns(ncols: int) -> list[tuple[str, str]]:
    return [(f"c{i:03d}", KINDS[i % len(KINDS)]) for i in range(ncols)]


def wide_contract(ncols: int) -> dict:
    cols = wide_columns(ncols)
    return {"$schema": "https://json-schema.org/draft/2020-12/schema",
            "$defs": WIDE_DEFS, "type": "object",
            "required": [c for c, k in cols if k == "tag"],
            "properties": {c: {"$ref": f"#/$defs/{k}"} for c, k in cols}}


def write_wide(path: str, rows: int, ncols: int, seed: int) -> None:
    """`rows` x (`ncols` + 1) table of int/string/double columns plus a
    ``grp`` key, written as one parquet file under `path`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, ncols])
    data = {"grp": pa.array((np.arange(rows) % 8).astype(str))}
    for name, kind in wide_columns(ncols):
        u = rng.random(rows)
        k = rng.integers(0, 1000, rows)
        if kind == "code":
            good = np.char.add("AB", np.char.zfill(k.astype(str), 3))
            col = pa.array(np.where(u < 0.01, np.char.add("x", k.astype(str)),
                                    good))
        elif kind == "pct":
            v = (k % 201) * 0.5
            v = np.where(u < 0.005, 101.0, np.where(
                u < 0.01, 3.3, np.where(u < 0.015, -2.0, v)))
            col = pa.array(v)
        elif kind == "level":
            v = np.array(["low", "mid", "high"])[k % 3]
            col = pa.array(np.where(u < 0.01, "bogus",
                                    np.where(u < 0.015, "low_banned", v)))
        elif kind == "qty":
            v = np.where(k >= 500, k - k % 2, k)
            v = np.where((u < 0.02) & (k >= 500), k | 1, v)
            col = pa.array(v.astype(np.int32))
        elif kind == "ratio":
            col = pa.array(np.where(u < 0.01, -1.0, np.where(
                u < 0.015, 0.0, (k + 1) / 1000.0)))
        else:
            v = np.char.add("t", k.astype(str))
            v = np.where(u < 0.005, "x" * 9, np.where(u < 0.01, "t", v))
            col = pa.array(v, mask=u > 0.99)
        data[name] = col
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(data), os.path.join(path, "part-0.parquet"))
