"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.001 and compares it with the DuckDB
``oracle_sql()`` result: row count, column names, and order-insensitive
values (floats to 6 significant decimals).  The real driver runs the same
comparison at sf0.01 — ``SMALLTSDB_PARITY_SF`` overrides the scale here.
"""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from smalltsdb_spark.queries import QUERIES

SF_DIR = os.environ.get("SMALLTSDB_PARITY_SF", "/root/testdata/sf0.001")
# lazy oracles (e.g. the IVF generated-constant SQL) must embed constants
# derived from the SAME sf dir this test evaluates against
os.environ["SMALLTSDB_ORACLE_SF_DIR"] = SF_DIR
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def normalize(rows, columns):
    """Sort columns by name and rows by value, coarsen floats."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm_cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return round(v, 6)
        return v

    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


QUERY_NAMES = sorted(entry_mod.queries())

#: rows whose returned plan reads a relation they cached, so the cache
#: must outlive the call: the classifier rows' featurize cache, the
#: ``embed_text`` result, and the events cache of the four rows that
#: scan it again in the returned plan
RETURNED_PLAN_CACHES = {
    "ext_curate_learned",
    "text_quality_classifier",
    "text_quality_classifier_sampled",
    "text_embed_rp",
    "text_semdedup_e2e",
    "tsdb_rollup_cascade_quantiles",
    "tsdb_get_metric_bounds",
    "stream_histogram_bounds",
    "stream_histogram_handover",
}


def _session_state(spark):
    """What a query must hand back unchanged: the SQL conf, the temp
    views and the persisted RDDs."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs().entrySet().toArray()
    return (
        dict(spark.conf.getAll),
        {t.name for t in spark.catalog.listTables() if t.isTemporary},
        {e.getKey() for e in rdds},
    )


def _record_child_sessions(spark, monkeypatch):
    """The sessions ``spark.newSession()`` makes from here on."""
    children = []
    real = type(spark).newSession

    def record(self):
        children.append(real(self))
        return children[-1]

    monkeypatch.setattr(type(spark), "newSession", record)
    return children


def _assert_session_unchanged(spark, before, children, keep_caches=False):
    conf, views, rdds = _session_state(spark)
    assert conf == before[0], {
        k: (before[0].get(k), conf.get(k))
        for k in set(conf) | set(before[0])
        if conf.get(k) != before[0].get(k)
    }
    assert views == before[1]
    assert keep_caches or rdds <= before[2], rdds - before[2]
    assert not spark.streams.active
    assert not [q for c in children for q in c.streams.active]


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert "path" in df.columns


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(name, spark, ddb, monkeypatch):
    """The row equals its oracle, and the query hands the caller's
    session back unchanged: same conf, no stream left running (on the
    session or on a child session the query made), no temp view added,
    no cache left behind unless its returned plan reads it."""
    qfn = entry_mod.queries()[name]
    children = _record_child_sessions(spark, monkeypatch)
    before = _session_state(spark)
    sdf = qfn(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    _assert_session_unchanged(
        spark, before, children, keep_caches=name in RETURNED_PLAN_CACHES
    )

    oracle = entry_mod.oracle_sql().get(name)
    if oracle is None:
        pytest.skip(f"{name}: rows-only check (no oracle SQL)")
    res = ddb.execute(oracle)
    ddb_cols = [d[0] for d in res.description]
    ddb_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(ddb_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(ddb_rows), f"{name}: row count differs"
    left = normalize(spark_rows, spark_cols)
    right = normalize(ddb_rows, ddb_cols)
    mismatches = [(a, b) for a, b in zip(left, right) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"

    # Driver-fetch-path emulation: the driver hashes via a pandas/Arrow
    # fetch, where DuckDB types without an int64 representation (HUGEINT
    # from integer sum(), DECIMAL) coerce to float64/object and render
    # "123.0" where Spark renders "123" — equal VALUES, different hash
    # (the r3/r4 six-query miss; tests/test_oracle_types.py pins the
    # type-level guard, this pins the rendered-value level).  fetchall()
    # (above) yields Python ints and cannot see the difference, so
    # compare str-rendered cells of DuckDB's .df() against the collected
    # Spark rows too.
    pdf = ddb.execute(oracle).df()
    order = sorted(range(len(ddb_cols)), key=lambda i: ddb_cols[i])
    spark_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])

    def render(v):
        # str(), not a %g format: "123.0" vs "123" is precisely the
        # difference this guard exists to catch (a %.6g would normalize
        # both to "123" and hide the coercion)
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "~null"
        return str(v)

    ddb_rendered = sorted(
        tuple(render(row[i]) for i in order)
        for row in pdf.where(pdf.notna(), None).itertuples(index=False, name=None)
    )
    spark_rendered = sorted(
        tuple(render(r[i]) for i in spark_order) for r in spark_rows
    )
    diffs = [(a, b) for a, b in zip(spark_rendered, ddb_rendered) if a != b]
    assert not diffs, f"{name}: pandas-render mismatches {diffs[:5]}"


def test_registry_complete(monkeypatch):
    """Every query has an oracle and none silently fall out of the
    registry (a dropped @query decorator also drops its parametrized
    parity test, so the count itself must be pinned).  ``queries()`` is
    the registry in registration order, and building the contract
    starts no process."""
    import subprocess

    def refuse(*args, **kwargs):
        raise AssertionError(f"contract spawned a subprocess: {args[:1]}")

    monkeypatch.setattr(subprocess, "run", refuse)
    monkeypatch.setattr(subprocess, "Popen", refuse)
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert list(qs) == list(QUERIES)
    assert set(oracles) == set(QUERIES)
    assert len(qs) >= 100


# Queries whose round-3 driver rows hash-missed despite being bit-exact
# locally; their oracles were hardened against DuckDB-version drift
# (no `round()`, no `//`).  Pinned here with an EXACT float-bit
# comparison through a SECOND, fresh DuckDB connection so any future
# re-introduction of a version-sensitive idiom fails loudly.
BIT_EXACT_NAMES = ["text_vocab_overlap", "ext_pack_sequences"]


@pytest.mark.parametrize("name", BIT_EXACT_NAMES)
def test_oracle_bit_exact(name, spark):
    import struct

    con = duckdb.connect()  # fresh session: no state from the module fixture
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')"
            )
        sdf = entry_mod.queries()[name](spark, SF_DIR)
        scols = sorted(sdf.columns)
        srows = [tuple(r[c] for c in scols) for r in sdf.collect()]
        res = con.execute(entry_mod.oracle_sql()[name])
        ocols = [d[0] for d in res.description]
        order = sorted(range(len(ocols)), key=lambda i: ocols[i])
        orows = [tuple(r[i] for i in order) for r in res.fetchall()]
    finally:
        con.close()

    def bits(row):
        return tuple(
            struct.pack(">d", v) if isinstance(v, float) else v for v in row
        )

    assert scols == sorted(ocols)
    left = sorted(bits(r) for r in srows)
    right = sorted(bits(r) for r in orows)
    assert left == right, f"{name}: float-bit mismatch"


def test_drain_timeout_raises_stops_the_query_and_keeps_the_session(
    spark, monkeypatch
):
    """A drain whose query does not end in time raises TimeoutError (not
    an assert, which ``python -O`` drops), stops the query, and the
    split-and-replay row still gives the session back unchanged."""
    from pyspark.sql.streaming.query import StreamingQuery

    children = _record_child_sessions(spark, monkeypatch)
    drained = []

    def never_ends(self, timeout=None):
        drained.append(self)
        return False

    monkeypatch.setattr(StreamingQuery, "awaitTermination", never_ends)
    before = _session_state(spark)
    with pytest.raises(TimeoutError):
        QUERIES["stream_rollup_finality"](spark, SF_DIR)
    assert len(drained) == 1 and not drained[0].isActive
    assert len(children) == 1
    _assert_session_unchanged(spark, before, children)


def test_failure_inside_persisted_stops_the_query_and_keeps_the_session(
    spark, monkeypatch
):
    """A failure raised right after the partials sink's ``persisted``
    block is entered (its cache materialized) fails the micro-batch: the
    row raises, its query is stopped, and both caches — the sink's and
    the row's own — are released."""
    from contextlib import contextmanager

    from pyspark.sql.streaming.query import StreamingQuery

    from smalltsdb_spark import storage
    from smalltsdb_spark.session import persisted

    @contextmanager
    def failing(*dfs):
        with persisted(*dfs):
            for df in dfs:
                df.count()
            raise RuntimeError("injected failure after persist")
        yield

    monkeypatch.setattr(storage, "persisted", failing)
    children = _record_child_sessions(spark, monkeypatch)
    drained = []
    real = StreamingQuery.awaitTermination

    def record(self, timeout=None):
        drained.append(self)
        return real(self, timeout)

    monkeypatch.setattr(StreamingQuery, "awaitTermination", record)
    before = _session_state(spark)
    with pytest.raises(Exception, match="injected failure after persist"):
        QUERIES["stream_rollup_partials"](spark, SF_DIR)
    assert len(drained) == 1 and not drained[0].isActive
    _assert_session_unchanged(spark, before, children)
