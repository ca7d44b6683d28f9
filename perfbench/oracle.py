"""DuckDB oracles over the same parquet files the engine reads.

Each oracle restates a contract's rules as SQL predicates written here,
independently of the library, and derives what every public call must
return: per-keyword violation counts, ``counts()``, ``manifest()``,
duplicate-key groups, licence orphans, and the runner's written
violation rows and committed groups.  A check returns ``None`` when the
engine's result matches and a one-line message otherwise.
"""

from __future__ import annotations

from collections import Counter
from typing import Optional

from inputs import wide_columns

LICENSES = tuple(f"lic_{i}" for i in range(8))

#: the runner's filesystem-safe group key for a ``fmt`` value
PART_SQL = ("CASE WHEN fmt IS NULL THEN '__null__' "
            "WHEN trim(fmt) = '' THEN '__empty__' "
            "WHEN NOT regexp_full_match(fmt, '[A-Za-z0-9_.-]+') "
            "THEN '__h_' || substr(md5(fmt), 1, 12) ELSE fmt END")


def parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet')"


def images_checks(caption_max: int = 2048,
                  fmts: tuple = ("jpeg", "png", "webp")) -> list:
    """(keyword, json_path, violation predicate) for the row keywords of
    ``IMAGES_SCHEMA``; `caption_max` and `fmts` tighten it."""
    enum = ", ".join(f"'{f}'" for f in fmts)
    required = [("required", "$", f"{c} IS NULL")
                for c in ("image_id", "w", "h", "fmt", "caption", "phash")]
    return required + [
        ("pattern", "$.image_id",
         "NOT regexp_matches(image_id, '^img_[0-9a-f]{12}$')"),
        ("minimum", "$.w", "w < 1"),
        ("maximum", "$.w", "w > 16384"),
        ("minimum", "$.h", "h < 1"),
        ("maximum", "$.h", "h > 16384"),
        ("enum", "$.fmt", f"fmt NOT IN ({enum})"),
        ("minLength", "$.caption", "length(caption) < 1"),
        ("maxLength", "$.caption", f"length(caption) > {caption_max}"),
        ("minimum", "$.phash", "phash < 0"),
    ]


def wide_checks(ncols: int) -> list:
    """(keyword, json_path, violation predicate) for ``wide_contract``."""
    out = []
    for c, kind in wide_columns(ncols):
        p = f"$.{c}"
        out += {
            "code": [("pattern", p,
                      f"NOT regexp_matches({c}, '^[A-Z]{{2}}[0-9]{{3}}$')")],
            "pct": [("minimum", p, f"{c} < 0"),
                    ("maximum", p, f"{c} > 100"),
                    ("multipleOf", p, f"{c} / 0.5 != trunc({c} / 0.5)")],
            "level": [("enum", p,
                       f"{c} NOT IN ('low', 'mid', 'high', 'low_banned')"),
                      ("not", p, f"{c} = 'low_banned'")],
            "qty": [("multipleOf", p, f"{c} >= 500 AND {c} % 2 != 0")],
            "ratio": [("exclusiveMinimum", p, f"{c} <= 0"),
                      ("maximum", p, f"{c} > 1")],
            "tag": [("required", "$", f"{c} IS NULL"),
                    ("minLength", p, f"length({c}) < 2"),
                    ("maxLength", p, f"length({c}) > 8")],
        }[kind]
    return out


def _flag(pred: str) -> str:
    return f"coalesce({pred}, false)"


class RowOracle:
    """Expected results of the row-level calls for one table + contract."""

    def __init__(self, con, table: str, checks: list, group: str):
        self.rows = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
        sums = ", ".join(f"sum(CAST({_flag(p)} AS BIGINT))"
                         for _, _, p in checks)
        per_check = con.execute(f"SELECT {sums} FROM {table}").fetchone()
        self.violations: Counter = Counter()
        for (kw, path, _), n in zip(checks, per_check):
            if n:
                self.violations[(kw, path)] += int(n)
        bad = " OR ".join(_flag(p) for _, _, p in checks)
        self.bad = con.execute(
            f"SELECT count(*) FROM {table} WHERE {bad}").fetchone()[0]
        self.manifest = {
            g: (int(n), int(b)) for g, n, b in con.execute(
                f"SELECT {group}, count(*), "
                f"sum(CAST(({bad}) AS BIGINT)) FROM {table} GROUP BY 1")
            .fetchall()}
        self.by_part: dict = {}
        self.by_part_keyword: Counter = Counter()
        if group == "fmt":
            nviol = " + ".join(f"CAST({_flag(p)} AS BIGINT)"
                               for _, _, p in checks)
            for part, n, b, v, *each in con.execute(
                    f"SELECT {PART_SQL} AS part, count(*), "
                    f"sum(CAST(({bad}) AS BIGINT)), sum({nviol}), {sums} "
                    f"FROM {table} GROUP BY 1").fetchall():
                self.by_part[part] = (int(n), int(b), int(v))
                for (kw, _, _), k in zip(checks, each):
                    if k:
                        self.by_part_keyword[(part, kw)] += int(k)

    @property
    def violation_rows(self) -> int:
        return sum(self.violations.values())

    # --------------------------------------------------------------- checks
    def check_counts(self, got) -> Optional[str]:
        want = (self.rows - self.bad, self.bad)
        return None if tuple(got) == want else f"counts {got} != {want}"

    def check_manifest(self, rows) -> Optional[str]:
        got = {}
        for r in rows:
            got[r[0]] = (r["rows"], r["invalid_rows"])
            if r["passed"] != (r["invalid_rows"] == 0):
                return f"manifest group {r[0]!r}: passed flag disagrees"
        if got == self.manifest:
            return None
        return (f"manifest {sorted(got.items())} != "
                f"{sorted(self.manifest.items())}")

    def check_violations(self, rows) -> Optional[str]:
        got = Counter({(r[0], r[1]): r[2] for r in rows})
        return _diff("violations", got, self.violations)


def _diff(what: str, got: Counter, want: Counter) -> Optional[str]:
    if got == want:
        return None
    keys = sorted(set(got) | set(want), key=str)
    bad = [f"{k}: {got.get(k, 0)} != {want.get(k, 0)}"
           for k in keys if got.get(k, 0) != want.get(k, 0)]
    return f"{what} " + "; ".join(bad[:4])


# ------------------------------------------------------------- dataset
class DatasetOracle:
    """Expected ``validate_dataset`` keyword counts for the north-star
    table under ``IMAGES_SCHEMA`` + unique, referential, stats and the
    stub ``pixel_invariant``, plus each operator's own row count."""

    def __init__(self, con, table: str, row: RowOracle, stats: dict):
        q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        self.unique = {
            key: q(f"SELECT count(*) FROM {table} WHERE {key} IN "
                   f"(SELECT {key} FROM {table} GROUP BY 1 "
                   f"HAVING count(*) > 1)")
            for key in ("image_id", "phash")}
        self.dup_groups = {
            key: q(f"SELECT count(*) FROM (SELECT {key} FROM {table} "
                   f"GROUP BY 1 HAVING count(*) > 1)")
            for key in ("image_id", "phash")}
        lic = ", ".join(f"'{x}'" for x in LICENSES)
        self.orphans = q(f"SELECT count(*) FROM {table} WHERE license_id "
                         f"IS NOT NULL AND license_id NOT IN ({lic})")
        # the stub decode restated in SQL: header 'IMG0' + 4 hex w + 4 hex
        # h + checksum; PSNR < 40 iff the body is shorter than
        # min(240, w*h // 65536 + 16) samples
        self.pixel = q(f"""
            WITH d AS (
              SELECT w, h, octet_length(bytes) AS n,
                (octet_length(bytes) >= 16
                 AND substr(bytes::VARCHAR, 1, 4) = 'IMG0') AS ok,
                TRY_CAST(('0x' || substr(bytes::VARCHAR, 5, 4)) AS BIGINT)
                  AS dw,
                TRY_CAST(('0x' || substr(bytes::VARCHAR, 9, 4)) AS BIGINT)
                  AS dh
              FROM {table})
            SELECT count(*) FROM d WHERE NOT ok OR dw IS NULL OR dh IS NULL
              OR n - 16 < least(240, (dw * dh) // 65536 + 16)
              OR dw != w OR dh != h""")
        null_rate = q(f"SELECT avg(CASE WHEN caption IS NULL THEN 1.0 "
                      f"ELSE 0.0 END) FROM {table}")
        max_w = q(f"SELECT max(w) FROM {table}")
        self.stats = Counter()
        if null_rate > stats["caption"]["max_null_rate"]:
            self.stats["stats:max_null_rate"] += 1
        if max_w > stats["w"]["max"]:
            self.stats["stats:max"] += 1
        self.keywords: Counter = Counter()
        for (kw, _), n in row.violations.items():
            self.keywords[kw] += n
        for key, n in self.unique.items():
            if n:
                self.keywords[f"uniqueItems:{key}"] = n
        if self.orphans:
            self.keywords["referential:license_id"] = self.orphans
        if self.pixel:
            self.keywords["pixelInvariant"] = self.pixel
        self.keywords.update(self.stats)

    def check_keywords(self, rows) -> Optional[str]:
        return _diff("validate_dataset",
                     Counter({r[0]: r[1] for r in rows}), self.keywords)

    def check_count(self, what: str, rows: int, groups: int = None):
        """Check an aggregate row (violation rows[, distinct keys])."""
        want = (rows,) if groups is None else (rows, groups)

        def check(got) -> Optional[str]:
            n = tuple(got[0])
            return None if n == want else f"{what} {n} != {want}"
        return check

    def check_stats(self, rows) -> Optional[str]:
        return _diff("stats", Counter(r["keyword"] for r in rows), self.stats)


# -------------------------------------------------------------- runner
def check_runner_output(con, out_dir: str, row: RowOracle,
                        committed: list) -> Optional[str]:
    """The runner's written violation rows and committed groups, read
    back from `out_dir`, against the input-side oracle."""
    got = Counter({
        (p, kw): n for p, kw, n in con.execute(
            f"SELECT part, keyword, count(*) FROM read_parquet("
            f"'{out_dir}/violations/*/*.parquet', hive_partitioning = true,"
            f" hive_types_autocast = false) GROUP BY 1, 2").fetchall()})
    msg = _diff("runner violations", got, row.by_part_keyword)
    if msg:
        return msg
    manifest = {
        k: (n, b, v, passed) for k, n, b, v, passed in con.execute(
            f"SELECT partition_key, rows, invalid_rows, violation_rows, "
            f"passed FROM read_parquet('{out_dir}/manifest/*.parquet')")
        .fetchall()}
    want = {k: (n, b, v, b == 0) for k, (n, b, v) in row.by_part.items()}
    if manifest != want:
        return (f"runner manifest {sorted(manifest.items())} != "
                f"{sorted(want.items())}")
    if sorted(committed) != sorted(want):
        return f"runner committed {sorted(committed)} != {sorted(want)}"
    return None
