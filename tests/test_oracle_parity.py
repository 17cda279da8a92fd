"""The local mirror of the driver's t2 correctness gate: every queries()
entry with an oracle_sql() entry must match DuckDB on row count, column
names, and (order-insensitive) values.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

import __spark_entry__ as entry_mod

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        dt = str(pdf[c].dtype)
        if dt.startswith(("uint", "int", "Int", "UInt")):
            pdf[c] = pdf[c].astype("float64")  # unify int widths; NaN-safe
        elif dt.startswith("float", 0) or dt.startswith("Float"):
            pdf[c] = pdf[c].astype("float64")
        elif dt.startswith("datetime"):
            # unify the storage unit too: Spark's toPandas yields ns,
            # DuckDB's fetchdf us, and pandas' frame assert treats
            # same-instant values of different units as unequal once a
            # NaT is present (first hit: the sf0.01 degenerate-events
            # sweep, where an undated click lands a NaT day row)
            pdf[c] = (
                pd.to_datetime(pdf[c])
                .dt.tz_localize(None)
                .astype("datetime64[ns]")
            )
        elif dt == "bool" or dt.startswith("boolean"):
            pdf[c] = pdf[c].astype("bool")
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


def test_all_queries_have_oracles():
    missing = set(QUERIES) - set(ORACLES)
    # non-SQL-expressible ops may be absent, but today every query has one
    assert not missing, f"queries without oracle SQL: {missing}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_parity(name, spark, duck, sf_dir):
    spark_pdf = QUERIES[name](spark, sf_dir).toPandas()
    oracle_pdf = duck.execute(ORACLES[name]).fetchdf()
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} vs oracle {len(oracle_pdf)}"
    )
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        raise AssertionError(f"{name}: value mismatch\n{e}") from None


def test_ann_topk_query_cap_parity(spark, duck, sf_dir, monkeypatch):
    """The 'pandas' face answers only the first ``_ANN_QUERY_CAP`` query
    ids, and the oracle applies the same cap, read when ``oracle_sql()``
    runs.  A cap of 2 reaches the capped branch at fixture size."""
    monkeypatch.setattr(entry_mod, "_ANN_QUERY_CAP", 2)
    spark_pdf = entry_mod.queries()["ann_topk"](spark, sf_dir).toPandas()
    oracle_pdf = duck.execute(entry_mod.oracle_sql()["ann_topk"]).fetchdf()
    faces = spark_pdf.groupby("method")["query_id"].nunique().to_dict()
    assert faces["pandas"] == 2 < faces["expr"], faces
    assert len(spark_pdf) == len(oracle_pdf)
    pd.testing.assert_frame_equal(
        _normalize(spark_pdf), _normalize(oracle_pdf), check_dtype=False,
        check_exact=True,
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"car_id", "zone_id", "fuel_level", "pollution_level"}


def _finite(x: float) -> bool:
    return x is not None and not math.isnan(x) and not math.isinf(x)


def test_cross_query_invariants(spark, sf_dir):
    """Invariants that RELATE different queries' outputs — a class of
    consistency no single-query oracle can check:

    - dedup_canonical keeps exactly (corpus - non-canonical cluster
      members) docs;
    - every split_leakage pair is a minhash_lsh pair with the same
      jaccard, and its split labels match sample_splits' assignment;
    - customer_order_presence partitions the customer table and its
      has_orders=True side is exactly the distinct custkeys of orders;
    - doc_profile's n_tokens equals segment-dedup's segment accounting
      (sum of per-doc segments = ceil(n_tokens/10) for every doc);
    - ann_recall's n_exact matches the ann_topk row count per query."""
    q = QUERIES
    corpus_n = entry_mod.load_table(spark, sf_dir, "documents").count()
    clusters = q["dedup_clusters"](spark, sf_dir).collect()
    non_canonical = sum(1 for r in clusters if r.doc_id != r.cluster_id)
    assert q["dedup_canonical"](spark, sf_dir).count() == corpus_n - non_canonical

    mh = {(r.doc_a, r.doc_b): r.jaccard for r in q["minhash_lsh"](spark, sf_dir).collect()}
    splits = {r.doc_id: r.split for r in q["sample_splits"](spark, sf_dir).collect()}
    leaks = q["split_leakage"](spark, sf_dir).collect()
    assert {(r.doc_a, r.doc_b) for r in leaks} == set(mh)
    for r in leaks:
        assert r.jaccard == mh[(r.doc_a, r.doc_b)]
        assert r.split_a == splits[r.doc_a] and r.split_b == splits[r.doc_b]
        assert r.leaks == (r.split_a != r.split_b)

    cust_n = entry_mod.load_table(spark, sf_dir, "customer").count()
    presence = q["customer_order_presence"](spark, sf_dir).collect()
    assert len(presence) == cust_n
    with_orders = {r.c_custkey for r in presence if r.has_orders}
    truth = {
        r.o_custkey
        for r in entry_mod.load_table(spark, sf_dir, "orders")
        .select("o_custkey").distinct().collect()
    }
    assert with_orders == truth

    n_tokens = {r.doc_id: r.n_tokens for r in q["doc_profile"](spark, sf_dir).collect()}
    for r in q["segment_dedup"](spark, sf_dir).collect():
        assert r.n_segments == -(-n_tokens[r.doc_id] // 10), r.doc_id

    # r16: ann_topk is the method-tagged union of the two exact faces —
    # count the 'expr' face (== the former standalone rows) and check
    # the 'pandas' face mirrors it exactly, then pin ann_recall's
    # n_exact against the single-face counts
    exact_counts: dict = {}
    pandas_counts: dict = {}
    for r in q["ann_topk"](spark, sf_dir).collect():
        tgt = exact_counts if r.method == "expr" else pandas_counts
        tgt[r.query_id] = tgt.get(r.query_id, 0) + 1
    assert pandas_counts == exact_counts
    for r in q["ann_recall"](spark, sf_dir).collect():
        assert r.n_exact == exact_counts[r.query_id], r.query_id

    # quality_classifier and doc_profile tokenize independently (explode
    # vs array) — their per-doc token counts must agree exactly, and the
    # corpus total must equal corpus_stats' per-lang grouping total
    qc = {r.doc_id: r.n_tokens for r in q["quality_classifier"](spark, sf_dir).collect()}
    assert qc == n_tokens
    lang_total = sum(
        r.total_tokens
        for r in q["corpus_stats"](spark, sf_dir).collect()
        if r.bucket == -1  # the (lang) grouping rows
    )
    assert sum(qc.values()) == lang_total

    # source_overlap is an exact regrouping of the minhash_lsh pair set:
    # matrix totals must equal the pair count, and each source-pair
    # cell's n_pairs must match a hand regroup of the labeled pairs
    docs_src = {
        r.doc_id: r.source
        for r in entry_mod.load_table(spark, sf_dir, "documents")
        .select("doc_id", "source").collect()
    }
    from collections import Counter

    regroup = Counter(
        tuple(sorted((docs_src[a], docs_src[b]))) for a, b in mh
    )
    overlap = {
        (r.source_lo, r.source_hi): r
        for r in q["source_overlap"](spark, sf_dir).collect()
    }
    assert {k: r.n_pairs for k, r in overlap.items()} == dict(regroup)
    assert sum(r.n_pairs for r in overlap.values()) == len(mh)

    # BPE pair conservation: every token occurrence of length L yields
    # L-1 adjacent pairs, so sum(pair_count) == total alnum chars -
    # total tokens (computed directly from the corpus)
    import pyspark.sql.functions as F

    alnum_chars = (
        entry_mod.load_table(spark, sf_dir, "documents")
        .select(
            F.length(
                F.regexp_replace(F.lower("text"), "[^a-z0-9]", "")
            ).alias("n")
        )
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    pair_total = sum(
        r.pair_count for r in q["bpe_merge_step"](spark, sf_dir).collect()
    )
    assert pair_total == alnum_chars - sum(qc.values())


# ---------------------------------------------------------------------------
# degenerate-document differential: the fixtures contain no empty /
# punctuation-only / 2-token documents, so the driver's parity gate never
# exercises those branches — this sweep runs EVERY documents-reading query
# against its oracle on a corpus seeded with exactly those rows.  It is
# the generalization of the gopher empty-doc fix (r07): the first run of
# this sweep found two ANSI crashes (doc_repetition negative-index
# sequence, weighted_sample divide-by-zero weight) and two parity breaks
# (token_chunks md5(NULL) in the oracle, simhash pairing empty docs by
# their shared zero-signature).
# ---------------------------------------------------------------------------

DOC_QUERIES = sorted(
    n for n in QUERIES if n in ORACLES and "documents" in ORACLES[n].lower()
)


@pytest.fixture(scope="session")
def edge_corpus_dir(tmp_path_factory, sf_dir):
    import shutil

    from kafka_streams_one_to_many_join_spark.model import TESTDATA_TABLES

    tmp = str(tmp_path_factory.mktemp("edge_corpus"))
    for t in TESTDATA_TABLES:
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{tmp}/{t}.parquet")
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    extra = docs.head(5).copy()
    extra["doc_id"] = [990001, 990002, 990003, 990004, 990005]
    # 990004/990005: KELVIN SIGN (U+212A) docs — no ASCII alphanumerics in
    # the RAW text, but lower() maps U+212A → 'k' so the tokenizer yields
    # tokens in both engines; identical texts make them a hamming-0
    # simhash pair the oracle emits, pinning the lowercased token-free
    # pre-filter (functions/dedup.py) against the raw-text variant that
    # would silently drop both.
    kelvin = "\u212a\u212a \u212a"
    extra["text"] = ["", "...!!!  ??", "one two", kelvin, kelvin]
    extra["n_chars"] = [0, 10, 7, 4, 4]
    # NULL text: NULL token arrays (explode -> no rows, size -> NULL
    # under ANSI) through every tokenizing path
    nulldoc = docs.head(1).copy()
    nulldoc["doc_id"] = [990006]
    nulldoc["text"] = [None]
    nulldoc["n_chars"] = [0]
    extra = pd.concat([extra, nulldoc], ignore_index=True)
    pd.concat([docs, extra], ignore_index=True).to_parquet(
        f"{tmp}/documents.parquet"
    )
    return tmp


@pytest.fixture(scope="session")
def edge_duck(edge_corpus_dir):
    import duckdb

    from kafka_streams_one_to_many_join_spark.model import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{edge_corpus_dir}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", DOC_QUERIES)
def test_degenerate_doc_parity(name, spark, edge_duck, edge_corpus_dir):
    spark_pdf = QUERIES[name](spark, edge_corpus_dir).toPandas()
    oracle_pdf = edge_duck.execute(ORACLES[name]).fetchdf()
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), name
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: {len(spark_pdf)} vs oracle {len(oracle_pdf)}"
    )
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)


# same differential, embeddings table: a zero vector (NaN/divide-by-zero
# bait for every cosine path) and an exact-duplicate vector (top-k
# tie-break determinism bait).  All embedding queries already handled
# both when this sweep was first run — kept as the regression fence.

EMB_QUERIES = sorted(
    n for n in QUERIES if n in ORACLES and "embeddings" in ORACLES[n].lower()
)


@pytest.fixture(scope="session")
def edge_emb_dir(tmp_path_factory, sf_dir):
    import shutil

    import numpy as np

    from kafka_streams_one_to_many_join_spark.model import TESTDATA_TABLES

    tmp = str(tmp_path_factory.mktemp("edge_emb"))
    for t in TESTDATA_TABLES:
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{tmp}/{t}.parquet")
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    extra = emb.head(3).copy()
    extra["vec_id"] = [980001, 980002, 980003]
    dim = len(emb.embedding.iloc[0])
    extra.at[extra.index[0], "embedding"] = np.zeros(
        dim, dtype=emb.embedding.iloc[0].dtype
    )
    extra.at[extra.index[1], "embedding"] = emb.embedding.iloc[0].copy()
    # NULL embedding: NULL-cell/-bucket join keys (the <=> trap the IVF
    # guard exists for) and NULL norms through every cosine path
    extra.at[extra.index[2], "embedding"] = None
    # empty + ragged vectors (r11 ADVICE): an empty array 0-dot-argmaxes
    # into IVF cell 1 Spark-side while an unnest-based oracle drops it
    # (no rows); a short vector dots/trains only its leading dims.  Both
    # are now excluded by the shared full-width guard
    # (len(embedding) == dim on BOTH engines) — these rows fence it.
    shapes = emb.head(2).copy()
    shapes["vec_id"] = [980004, 980005]
    dt = emb.embedding.iloc[0].dtype
    shapes.at[shapes.index[0], "embedding"] = np.array([], dtype=dt)
    shapes.at[shapes.index[1], "embedding"] = emb.embedding.iloc[0][
        : dim // 2
    ].copy()
    extra = pd.concat([extra, shapes], ignore_index=True)
    pd.concat([emb, extra], ignore_index=True).to_parquet(
        f"{tmp}/embeddings.parquet"
    )
    return tmp


@pytest.fixture(scope="session")
def edge_emb_duck(edge_emb_dir):
    import duckdb

    from kafka_streams_one_to_many_join_spark.model import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{edge_emb_dir}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", EMB_QUERIES)
def test_degenerate_embedding_parity(name, spark, edge_emb_duck, edge_emb_dir):
    spark_pdf = QUERIES[name](spark, edge_emb_dir).toPandas()
    oracle_pdf = edge_emb_duck.execute(ORACLES[name]).fetchdf()
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), name
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: {len(spark_pdf)} vs oracle {len(oracle_pdf)}"
    )
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)


# same differential, events table: NULL value (aggregate/percentile NULL
# handling), NULL props, and MALFORMED-JSON props — the strict-vs-
# permissive JSON trap.  First run found props_surface's oracle throwing
# on malformed JSON where Spark's permissive codec returns NULL (fixed
# with a json_valid guard).

EV_QUERIES = sorted(
    n
    for n in QUERIES
    if n in ORACLES
    and "events" in ORACLES[n].lower()
    and "documents" not in ORACLES[n].lower()
)


@pytest.fixture(scope="session")
def edge_events_dir(tmp_path_factory, sf_dir):
    import shutil

    from kafka_streams_one_to_many_join_spark.model import TESTDATA_TABLES

    tmp = str(tmp_path_factory.mktemp("edge_events"))
    for t in TESTDATA_TABLES:
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{tmp}/{t}.parquet")
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    extra = ev.head(3).copy()
    extra["event_id"] = [9900001, 9900002, 9900003]
    extra["value"] = [None, extra["value"].iloc[1], None]
    extra["props"] = [None, "not valid json {", "{}"]
    # NULL partition/grouping keys: a NULL user_id forms its own window
    # partition and a NULL event_type its own group in BOTH engines
    keyless = ev.head(2).copy()
    keyless["event_id"] = [9920001, 9920002]
    # nullable Int64 so the NULL does not coerce user_id to float64 for
    # the whole concatenated table (parquet must stay integer-typed)
    keyless["user_id"] = keyless["user_id"].astype("Int64")
    keyless.iloc[0, keyless.columns.get_loc("user_id")] = pd.NA
    keyless.iloc[1, keyless.columns.get_loc("event_type")] = None
    extra = pd.concat([extra, keyless], ignore_index=True)
    extra["user_id"] = extra["user_id"].astype("Int64")
    # undated events: NULL ts orders FIRST in Spark windows and LAST in
    # DuckDB — every temporal query must exclude them explicitly
    undated = ev.head(2).copy()
    undated["event_id"] = [9910001, 9910002]
    undated["ts"] = [pd.NaT, pd.NaT]
    # an ALL-NULL-event_type session (r11 ADVICE): its own user, close
    # timestamps → one isolated session whose every type is NULL.
    # Pre-coalesce, Spark's array_join rendered its path '' while
    # DuckDB's string_agg rendered NULL; both now coalesce per element
    # ('>' for this 2-event session) — these rows fence that.
    nullsess = ev.head(2).copy()
    nullsess["event_id"] = [9930001, 9930002]
    nullsess["user_id"] = 99999991
    nullsess["event_type"] = None
    base_ts = pd.Timestamp("2024-01-01 00:00:00")
    nullsess["ts"] = [base_ts, base_ts + pd.Timedelta(minutes=5)]
    pd.concat([ev, extra, undated, nullsess], ignore_index=True).to_parquet(
        f"{tmp}/events.parquet"
    )
    return tmp


@pytest.fixture(scope="session")
def edge_events_duck(edge_events_dir):
    import duckdb

    from kafka_streams_one_to_many_join_spark.model import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{edge_events_dir}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", EV_QUERIES)
def test_degenerate_events_parity(name, spark, edge_events_duck, edge_events_dir):
    spark_pdf = QUERIES[name](spark, edge_events_dir).toPandas()
    oracle_pdf = edge_events_duck.execute(ORACLES[name]).fetchdf()
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), name
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: {len(spark_pdf)} vs oracle {len(oracle_pdf)}"
    )
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)


# ---------------------------------------------------------------------------
# corrupt-asset differential: the permissive binary-decode channel
# (on_error="permit" — the binary twin of the JSON codec's corrupt-record
# policy) against a SQL oracle that predicts, from the corruption rule
# alone, the NULL feature columns and the STABLE decode_error reason for
# every malformed payload class: NULL payload, garbage bytes, truncated
# header, truncated pixel plane / data chunk — plus bit-exact features
# for the untouched valid assets flowing through the same query.
# ---------------------------------------------------------------------------

_GARBAGE = b"GARBAGE BYTES, NOT A CONTAINER"  # 30 bytes, no container magic


def _corrupt_assets(spark, sf_dir, media_type):
    """Per-doc synthesized container bytes, then corrupted by id % 5:
    0 → NULL payload, 1 → garbage, 2 → truncated header, 3 → last 5
    bytes cut (short pixel plane / data chunk), 4 → left valid."""
    import pandas as pd

    import __spark_entry__ as m
    from kafka_streams_one_to_many_join_spark.functions.multimodal import (
        synth_ppm_payload,
        synth_wav_payload,
    )
    from kafka_streams_one_to_many_join_spark.model import ensure_parallelism

    synth = synth_wav_payload if media_type == "audio" else synth_ppm_payload
    head_len = 30 if media_type == "audio" else 4
    docs = m.load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                mode, valid = d % 5, synth(d)
                payloads.append(
                    None if mode == 0
                    else _GARBAGE if mode == 1
                    else valid[:head_len] if mode == 2
                    else valid[:-5] if mode == 3
                    else valid
                )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "media_type": media_type,
                    "payload": payloads,
                }
            )

    return ensure_parallelism(docs).mapInPandas(
        gen, schema="asset_id bigint, media_type string, payload binary"
    )


_CORRUPT_IMAGE_ORACLE = """
    WITH m AS (
        SELECT doc_id AS asset_id, doc_id % 5 AS mode,
               (4 + doc_id % 13)::INTEGER AS width,
               (3 + doc_id % 7)::INTEGER AS height
        FROM documents
    ), sized AS (
        SELECT *, (3 + length(width::VARCHAR) + 1 + length(height::VARCHAR)
                   + 1 + 4 + width * height * 3)::BIGINT AS full_bytes
        FROM m
    )
    SELECT asset_id,
           CASE WHEN mode = 4 THEN width END AS width,
           CASE WHEN mode = 4 THEN height END AS height,
           CASE mode WHEN 0 THEN NULL WHEN 1 THEN 30 WHEN 2 THEN 4
                WHEN 3 THEN full_bytes - 5 ELSE full_bytes END::BIGINT AS n_bytes,
           CASE WHEN mode = 4 THEN list_sum(list_transform(range(width * height),
                p -> (asset_id * 31 + (3 * p + 0) * 7) % 256)) END::BIGINT AS sum_r,
           CASE WHEN mode = 4 THEN list_sum(list_transform(range(width * height),
                p -> (asset_id * 31 + (3 * p + 1) * 7) % 256)) END::BIGINT AS sum_g,
           CASE WHEN mode = 4 THEN list_sum(list_transform(range(width * height),
                p -> (asset_id * 31 + (3 * p + 2) * 7) % 256)) END::BIGINT AS sum_b,
           CASE mode WHEN 0 THEN 'NULL payload'
                WHEN 1 THEN 'not a binary PPM (P6) payload'
                WHEN 2 THEN 'truncated PPM header'
                WHEN 3 THEN 'truncated PPM pixel plane' END AS decode_error
    FROM sized
"""

_CORRUPT_AUDIO_ORACLE = """
    WITH m AS (
        SELECT doc_id AS asset_id, doc_id % 5 AS mode,
               (CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                     WHEN 2 THEN 22050 WHEN 3 THEN 44100
                     ELSE 48000 END)::INTEGER AS sample_rate,
               (64 + doc_id % 129)::BIGINT AS n_samples
        FROM documents
    ), s AS (
        SELECT *, list_transform(range(n_samples),
                   i -> abs((asset_id * 2654435761 + i * 40503) % 65536
                            - 32768)) AS av
        FROM m
    )
    SELECT asset_id,
           CASE WHEN mode = 4 THEN sample_rate END AS sample_rate,
           CASE WHEN mode = 4 THEN 1 END::INTEGER AS n_channels,
           CASE WHEN mode = 4 THEN n_samples END::BIGINT AS n_samples,
           CASE mode WHEN 0 THEN NULL WHEN 1 THEN 30 WHEN 2 THEN 30
                WHEN 3 THEN 44 + 2 * n_samples - 5
                ELSE 44 + 2 * n_samples END::BIGINT AS n_bytes,
           CASE WHEN mode = 4 THEN list_sum(av) END::BIGINT AS sum_abs,
           CASE WHEN mode = 4 THEN list_max(av) END::INTEGER AS peak,
           CASE mode WHEN 0 THEN 'NULL payload'
                WHEN 1 THEN 'invalid WAV container: file does not start with RIFF id'
                WHEN 2 THEN 'invalid WAV container: truncated header'
                WHEN 3 THEN 'truncated WAV data' END AS decode_error
    FROM s
"""


@pytest.mark.parametrize("media_type", ["image", "audio"])
def test_corrupt_asset_parity(media_type, spark, duck, sf_dir):
    from kafka_streams_one_to_many_join_spark.functions.multimodal import (
        extract_audio_features,
        extract_image_features,
    )

    assets = _corrupt_assets(spark, sf_dir, media_type)
    if media_type == "image":
        got = extract_image_features(assets, on_error="permit")
        oracle_sql = _CORRUPT_IMAGE_ORACLE
    else:
        got = extract_audio_features(assets, on_error="permit")
        oracle_sql = _CORRUPT_AUDIO_ORACLE
    spark_pdf = got.toPandas()
    oracle_pdf = duck.execute(oracle_sql).fetchdf()
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns)
    assert len(spark_pdf) == len(oracle_pdf)
    # every corruption class must actually be present in the fixture
    assert spark_pdf["decode_error"].nunique(dropna=False) == 5
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)


def test_strict_decode_still_raises(spark, sf_dir):
    """The default on_error='raise' keeps the reference's crash-on-parse
    contract (JsonSerdes.scala:40): one malformed payload fails the
    query, and a truncated header terminates with an error instead of
    scanning past the payload end."""
    from pyspark.errors.exceptions.captured import PythonException

    from kafka_streams_one_to_many_join_spark.functions.multimodal import (
        decode_ppm,
        decode_wav_pcm16,
        extract_image_features,
    )

    for bad, msg in [
        (None, "NULL payload"),
        (b"JUNK", "not a binary PPM"),
        (b"P6\n4", "truncated PPM header"),
        (b"P6\n4 x\n255\n" + b"\0" * 64, "malformed PPM header"),
        (b"P6\n4 3\n65535\n" + b"\0" * 64, "only 8-bit PPM"),
        (b"P6\n4 3\n255\n" + b"\0" * 5, "truncated PPM pixel plane"),
    ]:
        with pytest.raises(ValueError, match=msg):
            decode_ppm(bad)
    for bad, msg in [
        (None, "NULL payload"),
        (_GARBAGE, "invalid WAV container"),
        (b"RIFF", "invalid WAV container"),
    ]:
        with pytest.raises(ValueError, match=msg):
            decode_wav_pcm16(bad)
    corrupt = _corrupt_assets(spark, sf_dir, "image")
    # whichever corrupt row a worker hits first fails the task — every
    # decoder message names the payload or the container
    with pytest.raises(PythonException, match="payload|PPM"):
        extract_image_features(corrupt).collect()
    with pytest.raises(ValueError, match="on_error"):
        extract_image_features(corrupt, on_error="lenient")


# ---------------------------------------------------------------------------
# same differential, relational tables (orders / lineitem / customer):
# NULL o_orderdate (the window-order NULLS FIRST/LAST trap that bit the
# events table), NULL / zero money amounts (decimal-cast and ordering
# NULL handling), a dangling o_custkey (FK integrity is an ingest-time
# promise, not a query-time one), NULL c_acctbal / c_mktsegment (NULL
# grouping keys), NULL l_shipdate and NULL / zero l_quantity with 100%
# discount (filter and aggregate NULL-skipping).
# ---------------------------------------------------------------------------

REL_QUERIES = sorted(
    n
    for n in QUERIES
    if n in ORACLES
    and any(t in ORACLES[n].lower() for t in ("orders", "lineitem", "customer"))
)


@pytest.fixture(scope="session")
def edge_rel_dir(tmp_path_factory, sf_dir):
    import shutil

    from kafka_streams_one_to_many_join_spark.model import TESTDATA_TABLES

    tmp = str(tmp_path_factory.mktemp("edge_rel"))
    for t in TESTDATA_TABLES:
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{tmp}/{t}.parquet")

    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    extra_o = orders.head(4).copy()
    extra_o["o_orderkey"] = [9900001, 9900002, 9900003, 9900004]
    extra_o["o_totalprice"] = [None, 1234.56, 50000.0, 0.0]
    extra_o.iloc[1, extra_o.columns.get_loc("o_orderdate")] = pd.NaT
    extra_o.iloc[2, extra_o.columns.get_loc("o_custkey")] = 99999999  # dangling FK
    pd.concat([orders, extra_o], ignore_index=True).to_parquet(
        f"{tmp}/orders.parquet"
    )

    cust = pd.read_parquet(f"{sf_dir}/customer.parquet")
    extra_c = cust.head(2).copy()
    extra_c["c_custkey"] = [9900001, 9900002]
    extra_c["c_name"] = ["Customer#degen1", "Customer#degen2"]
    extra_c.iloc[0, extra_c.columns.get_loc("c_acctbal")] = None
    extra_c.iloc[1, extra_c.columns.get_loc("c_mktsegment")] = None
    pd.concat([cust, extra_c], ignore_index=True).to_parquet(
        f"{tmp}/customer.parquet"
    )

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    extra_l = li.head(3).copy()  # keeps real l_orderkey/partkey/suppkey FKs
    extra_l["l_linenumber"] = [91, 92, 93]
    extra_l.iloc[0, extra_l.columns.get_loc("l_shipdate")] = pd.NaT
    extra_l.iloc[1, extra_l.columns.get_loc("l_quantity")] = 0.0
    extra_l.iloc[1, extra_l.columns.get_loc("l_discount")] = 1.0
    extra_l.iloc[2, extra_l.columns.get_loc("l_quantity")] = None
    pd.concat([li, extra_l], ignore_index=True).to_parquet(
        f"{tmp}/lineitem.parquet"
    )
    return tmp


@pytest.fixture(scope="session")
def edge_rel_duck(edge_rel_dir):
    import duckdb

    from kafka_streams_one_to_many_join_spark.model import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{edge_rel_dir}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", REL_QUERIES)
def test_degenerate_relational_parity(name, spark, edge_rel_duck, edge_rel_dir):
    spark_pdf = QUERIES[name](spark, edge_rel_dir).toPandas()
    oracle_pdf = edge_rel_duck.execute(ORACLES[name]).fetchdf()
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), name
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: {len(spark_pdf)} vs oracle {len(oracle_pdf)}"
    )
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)


# ---------------------------------------------------------------------------
# same differential, part/supplier — the last fixture tables without a
# degenerate fence: NULL p_brand / p_type (NULL grouping keys and LIKE
# operands), NULL p_retailprice (money aggregates), NULL s_nationkey
# (NULL join key — dropped by the inner join in both engines), NULL
# s_acctbal.  The injected keys are fresh, so no lineitem references
# them: the cases exercise the dimension-side NULL paths without
# changing any join fan-out.
# ---------------------------------------------------------------------------

PS_QUERIES = sorted(
    n
    for n in QUERIES
    if n in ORACLES
    and __import__("re").search(
        r"\b(part|supplier|nation|region)\b", ORACLES[n].lower()
    )
)


@pytest.fixture(scope="session")
def edge_ps_dir(tmp_path_factory, sf_dir):
    import shutil

    from kafka_streams_one_to_many_join_spark.model import TESTDATA_TABLES

    tmp = str(tmp_path_factory.mktemp("edge_ps"))
    for t in TESTDATA_TABLES:
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{tmp}/{t}.parquet")

    part = pd.read_parquet(f"{sf_dir}/part.parquet")
    extra_p = part.head(3).copy()
    extra_p["p_partkey"] = [9900001, 9900002, 9900003]
    extra_p.iloc[0, extra_p.columns.get_loc("p_brand")] = None
    extra_p.iloc[1, extra_p.columns.get_loc("p_type")] = None
    extra_p["p_retailprice"] = extra_p["p_retailprice"].astype("float64")
    extra_p.iloc[2, extra_p.columns.get_loc("p_retailprice")] = None
    pd.concat([part, extra_p], ignore_index=True).to_parquet(
        f"{tmp}/part.parquet"
    )

    sup = pd.read_parquet(f"{sf_dir}/supplier.parquet")
    extra_s = sup.head(2).copy()
    extra_s["s_suppkey"] = [9900001, 9900002]
    extra_s["s_nationkey"] = extra_s["s_nationkey"].astype("Int32")
    extra_s.iloc[0, extra_s.columns.get_loc("s_nationkey")] = pd.NA
    extra_s["s_acctbal"] = extra_s["s_acctbal"].astype("float64")
    extra_s.iloc[1, extra_s.columns.get_loc("s_acctbal")] = None
    out = pd.concat([sup, extra_s], ignore_index=True)
    out["s_nationkey"] = out["s_nationkey"].astype("Int32")
    out.to_parquet(f"{tmp}/supplier.parquet")

    # dims too, completing per-table coverage: a NULL n_name (grouping
    # key), a nation with a dangling n_regionkey, and a fresh region no
    # nation references (drops out of every inner join identically)
    nat = pd.read_parquet(f"{sf_dir}/nation.parquet")
    # a REFERENCED nation with a NULL name: its customers/suppliers keep
    # joining, so the NULL flows into the n_name grouping key of every
    # per-nation aggregate in both engines
    nat.loc[nat["n_nationkey"] == 0, "n_name"] = None
    extra_n = nat.head(2).copy()
    extra_n["n_nationkey"] = extra_n["n_nationkey"].astype("int32")
    extra_n.iloc[0, extra_n.columns.get_loc("n_nationkey")] = 9901
    extra_n.iloc[0, extra_n.columns.get_loc("n_name")] = None
    extra_n.iloc[1, extra_n.columns.get_loc("n_nationkey")] = 9902
    extra_n["n_regionkey"] = extra_n["n_regionkey"].astype("int32")
    extra_n.iloc[1, extra_n.columns.get_loc("n_regionkey")] = 99  # dangling
    out_n = pd.concat([nat, extra_n], ignore_index=True)
    for c in ("n_nationkey", "n_regionkey"):
        out_n[c] = out_n[c].astype(nat[c].dtype)
    out_n.to_parquet(f"{tmp}/nation.parquet")
    reg = pd.read_parquet(f"{sf_dir}/region.parquet")
    extra_r = reg.head(1).copy()
    extra_r.iloc[0, extra_r.columns.get_loc("r_regionkey")] = 98
    extra_r.iloc[0, extra_r.columns.get_loc("r_name")] = None
    out_r = pd.concat([reg, extra_r], ignore_index=True)
    out_r["r_regionkey"] = out_r["r_regionkey"].astype(reg["r_regionkey"].dtype)
    out_r.to_parquet(f"{tmp}/region.parquet")
    return tmp


@pytest.fixture(scope="session")
def edge_ps_duck(edge_ps_dir):
    import duckdb

    from kafka_streams_one_to_many_join_spark.model import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{edge_ps_dir}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", PS_QUERIES)
def test_degenerate_part_supplier_parity(name, spark, edge_ps_duck, edge_ps_dir):
    spark_pdf = QUERIES[name](spark, edge_ps_dir).toPandas()
    oracle_pdf = edge_ps_duck.execute(ORACLES[name]).fetchdf()
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), name
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: {len(spark_pdf)} vs oracle {len(oracle_pdf)}"
    )
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
