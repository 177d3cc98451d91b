"""Seeded benchmark inputs, generated once and cached, and the values each
workload's output must equal.

An input is keyed by (kind, seed, rows, layout) and lives in its own
directory under the cache root.  It counts as present only when its
``_SUCCESS`` marker exists AND the parquet footers add up to the
expected row count, so a half-written or differently-shaped table is
regenerated, never reused.  The expected values are computed once per
input, off the code under test: DuckDB over the same parquet files for
the sequence tables, the generator's own injection bookkeeping for the
record table.  They are stored next to the data as ``_expected.json``
(Spark and pyarrow skip ``_``-prefixed files).
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

# bump when a generator or an expected-value definition changes
GEN_VERSION = 2
SEQ_MAXLEN = 256
FILES = 16
KEEP_ENTRIES = 64           # cache entries kept (least recently used go)
# restated from datagen, so that inputs and expected values never import
# the program
VOCAB = 50257
SOURCES = ["web", "books", "code", "wiki", "forums"]
DIM_SOURCES = ["web", "books", "code", "wiki"]    # make_sources_dim
MAX_LEN = 8192              # maxlen / max_n_tok of the verdict job


class InputCache:
    def __init__(self, root: str):
        self.root = root
        self.gen_s = 0.0        # time spent generating in this process

    def path(self, kind: str, seed: int, rows: int, layout: str) -> str:
        return os.path.join(
            self.root, f"{kind}-seed{seed}-rows{rows}-{layout}-g{GEN_VERSION}")

    def ensure(self, path: str, rows: int, make) -> str:
        """Return ``path``, first calling ``make(tmp_dir)`` to generate it
        unless a complete copy with ``rows`` rows is already there."""
        if self._complete(path, rows):
            os.utime(path)
            return path
        t0 = time.perf_counter()
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.replace(tmp, path)
        if not self._complete(path, rows):
            raise RuntimeError(f"generated input {path} is incomplete")
        self.gen_s += time.perf_counter() - t0
        self._evict(keep=path)
        return path

    @staticmethod
    def _complete(path: str, rows: int) -> bool:
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            return False
        n = ds.dataset(path, format="parquet",
                       partitioning="hive").count_rows()
        return n == rows

    def _evict(self, keep: str) -> None:
        entries = [os.path.join(self.root, e) for e in os.listdir(self.root)]
        entries = [e for e in entries if os.path.isdir(e) and e != keep]
        entries.sort(key=os.path.getmtime, reverse=True)
        for e in entries[KEEP_ENTRIES - 1:]:
            shutil.rmtree(e, ignore_errors=True)


def read_expected(path: str) -> dict:
    with open(os.path.join(path, "_expected.json")) as f:
        return json.load(f)


def write_expected(path: str, value: dict) -> None:
    with open(os.path.join(path, "_expected.json"), "w") as f:
        json.dump(value, f, indent=1, sort_keys=True)


# -- sequence tables ---------------------------------------------------------
#
# The shape of ``validr_spark.datagen.make_sequences`` (FIXTURES.md §A),
# made here with numpy: generation needs no JVM, and a change to the
# program's datagen cannot change what the benchmark feeds it.

_SOURCE_P = [0.50, 0.20, 0.15, 0.10, 0.05]     # datagen's zipf-ish skew
_SEQ_SCHEMA = pa.schema([("doc_id", pa.string()),
                         ("tokens", pa.list_(pa.int32())),
                         ("n_tok", pa.int32()), ("source", pa.string())])


def make_sequences(rows: int, seed: int, inject: bool = True) -> pa.Table:
    """``rows`` sequences of 1..SEQ_MAXLEN tokens in [0, VOCAB).  With
    ``inject``, 1% of rows get one of datagen's six violation kinds: an
    out-of-range first token, n_tok off by 7, the doc_id of the next row,
    source 'unknown', no tokens, or a null doc_id."""
    rng = np.random.default_rng([seed, rows, int(inject)])
    src = rng.choice(len(SOURCES), rows, p=_SOURCE_P)
    length = rng.integers(1, SEQ_MAXLEN + 1, rows)
    values = rng.integers(0, VOCAB, int(length.sum()), dtype=np.int32)
    ids = [f"{SOURCES[s]}-{i:09d}" for i, s in enumerate(src)]
    doc_id = list(ids)
    source = [SOURCES[s] for s in src]
    kind = np.where(rng.random(rows) < 0.01 if inject else np.zeros(rows, bool),
                    rng.integers(0, 6, rows), -1)
    offsets = np.concatenate([[0], np.cumsum(length)])
    for i in np.flatnonzero(kind == 0):
        values[offsets[i]] = -1
    for i in np.flatnonzero(kind == 2):
        doc_id[i] = ids[(i + 1) % rows]
    for i in np.flatnonzero(kind == 3):
        source[i] = "unknown"
    for i in np.flatnonzero(kind == 5):
        doc_id[i] = None
    # kind 4: an empty token list
    length = np.where(kind == 4, 0, length)
    keep = np.repeat(kind != 4, np.diff(offsets))
    values = values[keep]
    offsets = np.concatenate([[0], np.cumsum(length)]).astype(np.int32)
    n_tok = np.where(kind == 1, length + 7, length).astype(np.int32)
    return pa.table([pa.array(doc_id, pa.string()),
                     pa.ListArray.from_arrays(offsets, values),
                     pa.array(n_tok), pa.array(source, pa.string())],
                    schema=_SEQ_SCHEMA)


def _write_files(table: pa.Table, path: str, files: int = FILES) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for k in range(files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def sequences(cache: InputCache, seed: int, rows: int, layout: str) -> str:
    """The injected table; ``layout`` is ``flat`` (16 files) or
    ``by_source`` (hive-partitioned on source, ``source=<value>/``)."""

    def make(tmp):
        table = make_sequences(rows, seed)
        if layout == "by_source":
            os.makedirs(tmp)
            for s in sorted(set(table.column("source").to_pylist())):
                part = table.filter(pc.equal(table["source"], s))
                _write_files(part.drop(["source"]),
                             os.path.join(tmp, f"source={s}"), files=2)
            open(os.path.join(tmp, "_SUCCESS"), "w").close()
        else:
            _write_files(table, tmp)
        write_expected(tmp, sequence_oracle(tmp, hive=layout == "by_source"))

    return cache.ensure(cache.path("seq", seed, rows, layout), rows, make)


def clean_sequences(cache: InputCache, seed: int, rows: int) -> str:
    """An all-clean table from another seed: the drift reference."""
    return cache.ensure(cache.path("ref", seed, rows, "flat"), rows,
                        lambda tmp: _write_files(
                            make_sequences(rows, seed, inject=False), tmp))


def minhash_slice(cache: InputCache, seed: int, rows: int,
                  planted: int) -> str:
    """``rows`` clean sequences plus exact copies of the first ``planted``
    with at least 3 tokens, under new ids ``zz-copy-<original id>``: the
    copies are the only near-duplicates, each matching its original in
    every LSH band."""

    def make(tmp):
        base = make_sequences(rows, seed, inject=False)
        pick = np.flatnonzero(base.column("n_tok").to_numpy() >= 3)[:planted]
        copies = base.take(pick)
        copies = copies.set_column(0, "doc_id", pa.array(
            ["zz-copy-" + d for d in copies.column("doc_id").to_pylist()]))
        _write_files(pa.concat_tables([base, copies]), tmp, files=1)
        pairs = [[d[len("zz-copy-"):], d]
                 for d in copies.column("doc_id").to_pylist()]
        write_expected(tmp, {"pairs": sorted(pairs)})

    n = rows + planted
    return cache.ensure(cache.path("minhash", seed, n, "flat"), n, make)


def duckdb_conn():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def parquet_scan(path: str, hive: bool = False) -> str:
    return (f"read_parquet('{path}/**/*.parquet', "
            f"hive_partitioning = {str(hive).lower()})")


def sequence_oracle(path: str, hive: bool) -> dict:
    """Expected verdict-job and resumable-run results, from DuckDB.

    Row rules restate ``datagen.sequences_schema`` (doc_id 1..64 chars,
    1..8192 tokens in [0, VOCAB), n_tok in 1..8192, source in SOURCES);
    each failing field counts once.  The verdict job checks token ranges
    in a separate pass, so its row-level ``tokens`` rule is length only
    and every out-of-range token counts as one token violation."""
    src = ", ".join(f"'{s}'" for s in SOURCES)
    dim = ", ".join(f"'{s}'" for s in DIM_SOURCES)
    bad_tok = f"x IS NULL OR x < 0 OR x >= {VOCAB}"
    con = duckdb_conn()
    con.execute(f"""
        CREATE TEMP VIEW t AS
        SELECT doc_id, tokens, n_tok, source,
          (doc_id IS NULL OR length(doc_id) < 1 OR length(doc_id) > 64)::INT
            AS f_doc,
          (tokens IS NULL OR len(tokens) < 1 OR len(tokens) > {MAX_LEN})::INT
            AS f_len,
          (n_tok IS NULL OR n_tok < 1 OR n_tok > {MAX_LEN})::INT AS f_ntok,
          (source IS NULL OR source NOT IN ({src}))::INT AS f_src,
          len(list_filter(tokens, x -> {bad_tok})) AS n_bad_tok
        FROM {parquet_scan(path, hive)}""")
    per_source = {}
    for row in con.execute(f"""
        SELECT source, count(*), sum(len(tokens)),
          sum(f_doc + f_len + f_ntok + f_src),
          count(*) FILTER (WHERE f_doc + f_len + f_ntok + f_src > 0),
          count(*) FILTER (WHERE source IS NULL OR source NOT IN ({dim})),
          count(*) FILTER (WHERE n_tok <> len(tokens)),
          sum(n_bad_tok),
          sum(f_doc + greatest(f_len, (n_bad_tok > 0)::INT) + f_ntok + f_src),
          count(DISTINCT doc_id) FILTER (WHERE
            f_doc + greatest(f_len, (n_bad_tok > 0)::INT) + f_ntok + f_src > 0)
        FROM t GROUP BY source""").fetchall():
        per_source[row[0]] = {
            "n_rows": row[1], "n_tokens": int(row[2]),
            "n_row_violations": int(row[3]), "n_bad_rows": row[4],
            "n_orphans": row[5], "n_inconsistent": row[6],
            "n_token_violations": int(row[7]),
            "manifest_violations": int(row[8]),
            "manifest_bad_rows": row[9]}
    n_keys, dup_keys = con.execute("""
        SELECT count(*), count(*) FILTER (WHERE n > 1)
        FROM (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id)""").fetchone()
    return {"per_source": per_source, "n_keys": n_keys, "dup_keys": dup_keys}


def drift_expected(cache: InputCache, seq: str, ref: str, grid: int) -> dict:
    """:func:`drift_oracle` for these inputs, cached beside ``seq``."""
    path = os.path.join(seq, f"_drift_{os.path.basename(ref)}_{grid}.json")
    if not os.path.exists(path):
        t0 = time.perf_counter()
        with open(path + ".tmp", "w") as f:
            json.dump(drift_oracle(seq, ref, grid), f)
        os.replace(path + ".tmp", path)
        cache.gen_s += time.perf_counter() - t0
    with open(path) as f:
        return json.load(f)


def drift_oracle(seq: str, ref: str, grid: int) -> dict:
    """Two-sample KS of ``n_tok`` (ref vs seq), exact (``ks``) and on
    ``ks_approx``'s grid (``ks_grid``: the ECDF gap at the i/grid
    quantiles of ref, taken exactly), and the χ² of seq's token histogram
    against ref's with ``chi_square_counts``' definition: ref counts
    scaled to seq's total, categories absent from ref skipped, dof =
    categories kept - 1."""
    a = np.sort(pq.read_table(ref, columns=["n_tok"]).column(0)
                .to_numpy().astype(np.float64))
    b = np.sort(pq.read_table(seq, columns=["n_tok"]).column(0)
                .to_numpy().astype(np.float64))

    def gap(xs):
        return float(np.max(np.abs(np.searchsorted(a, xs, "right") / len(a)
                                   - np.searchsorted(b, xs, "right") / len(b))))

    probs = np.arange(1, grid) / grid
    ks_grid = gap(np.quantile(a, probs, method="inverted_cdf"))
    ks = gap(np.union1d(a, b))
    con = duckdb_conn()
    chi2, dof = con.execute(f"""
        WITH o AS (SELECT x, count(*) AS n_obs FROM
                    (SELECT unnest(tokens) AS x FROM {parquet_scan(seq)}) GROUP BY x),
             e AS (SELECT x, count(*) AS n_exp FROM
                    (SELECT unnest(tokens) AS x FROM {parquet_scan(ref)}) GROUP BY x),
             j AS (SELECT coalesce(n_obs, 0) AS n_obs, coalesce(n_exp, 0) AS n_exp
                   FROM o FULL OUTER JOIN e USING (x)),
             s AS (SELECT sum(n_obs)::DOUBLE / sum(n_exp) AS scale FROM j)
        SELECT sum(pow(n_obs - n_exp * scale, 2) / (n_exp * scale)),
               count(*) - 1
        FROM j, s WHERE n_exp > 0""").fetchone()
    return {"ks": ks, "ks_grid": ks_grid, "chi2": float(chi2), "dof": int(dof)}


# -- the record table (generated here, validr's nested-payload shape) --------

_COLORS = ["red", "green", "blue"]
_CITIES = ["Paris", "Oslo", "Lima", "Quito", "Hanoi", "Accra"]


def record_fields() -> dict:
    """The fields the record workload validates (built with the program's
    public ``T``): strings coerced to int/float, two Python-UDF validators
    (email, datetime), url, a nested dict with strip/minlen/maxlen, and a
    list of enum."""
    from validr_spark import T

    return {
        "age": T.int.min(0).max(150),
        "email": T.email,
        "created": T.datetime,
        "homepage": T.url,
        "score": T.float.min(0).max(100),
        "profile": T.dict(name=T.str.strip.minlen(2).maxlen(16),
                          city=T.str.maxlen(24)),
        "tags": T.list(T.enum(" ".join(_COLORS))).maxlen(8),
    }


def record_schema():
    from validr_spark import T

    return T.dict(**record_fields())


def make_records(n: int, seed: int) -> tuple[pa.Table, dict]:
    """``n`` records, each field invalid in about 1% of rows, and the exact
    violation count per rule id those injections produce (one rule per
    injected kind, so the count is bookkeeping, not validation)."""
    rng = np.random.default_rng(seed)
    expected: dict[str, int] = {}

    def inject(kinds: list[str]):
        bad = rng.random(n) < 0.01
        kind = rng.integers(0, len(kinds), n)
        for k, rule in enumerate(kinds):
            c = int(np.sum(bad & (kind == k)))
            if c:
                expected[rule] = expected.get(rule, 0) + c
        return [int(kind[i]) if bad[i] else -1 for i in range(n)]

    def letters(k: int) -> str:
        return "".join(chr(97 + c) for c in rng.integers(0, 26, k))

    age = rng.integers(0, 151, n)
    bad_age = inject(["age.type", "age.max", "age.min"])
    ages = [str(a) if k < 0 else ("x%d" % a, str(151 + a), "-%d" % (a + 1))[k]
            for a, k in zip(age, bad_age)]

    bad_email = inject(["email.email"])
    emails = [f"u{i}@example.com" if k < 0 else f"u{i}.example.com"
              for i, k in enumerate(bad_email)]

    ts = rng.integers(0, 28 * 24 * 3600, n)
    us = rng.integers(0, 1_000_000, n)
    mon = rng.integers(1, 13, n)
    bad_created = inject(["created.datetime"])
    created = [
        f"2024-{(13 if k >= 0 else m):02d}-{t // 86400 + 1:02d}T"
        f"{t // 3600 % 24:02d}:{t // 60 % 60:02d}:{t % 60:02d}.{u:06d}Z"
        for t, u, m, k in zip(ts, us, mon, bad_created)]

    bad_url = inject(["homepage.scheme"])
    urls = [("https" if k < 0 else "ftp") + f"://example.com/u/{i}"
            for i, k in enumerate(bad_url)]

    score = rng.random(n) * 100
    bad_score = inject(["score.type", "score.max", "score.min"])
    scores = [f"{s:.2f}" if k < 0
              else ("n/a", f"{s + 100.01:.2f}", f"-{s + 0.01:.2f}")[k]
              for s, k in zip(score, bad_score)]

    name_len = rng.integers(2, 17, n)
    bad_name = inject(["profile.name.minlen", "profile.name.maxlen"])
    city = rng.integers(0, len(_CITIES), n)
    profiles = [
        {"name": "  " + letters(int(ln) if k < 0 else (1, 17 + int(ln) % 8)[k])
         + " ", "city": _CITIES[c]}
        for ln, k, c in zip(name_len, bad_name, city)]

    n_tags = rng.integers(0, 5, n)
    bad_tags = inject(["tags[].enum", "tags.maxlen"])
    tags = []
    for nt, k in zip(n_tags, bad_tags):
        size = int(nt) if k != 1 else 9 + int(nt)
        t = [_COLORS[c] for c in rng.integers(0, 3, size)]
        if k == 0:
            t.append("purple")
        tags.append(t)

    table = pa.table({
        "rid": pa.array(np.arange(n, dtype=np.int64)),
        "age": ages, "email": emails, "created": created,
        "homepage": urls, "score": scores,
        "profile": pa.array(profiles, pa.struct([("name", pa.string()),
                                                 ("city", pa.string())])),
        "tags": pa.array(tags, pa.list_(pa.string())),
    })
    return table, dict(sorted(expected.items()))


def records(cache: InputCache, seed: int, rows: int) -> str:
    def make(tmp):
        table, expected = make_records(rows, seed)
        _write_files(table, tmp)
        write_expected(tmp, {"by_rule": expected})

    return cache.ensure(cache.path("records", seed, rows, "flat"), rows, make)
