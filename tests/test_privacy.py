"""Keyed pseudonymization + crypto-erasure (operators/privacy.py):
round-trip identity, analyzability of tokens, forget semantics, and
cross-engine token parity."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from weather_data_warehouse_aws_spark.operators.privacy import (
    depseudonymize,
    forget_tokens,
    pseudonym_token_sql,
    pseudonymize,
)

SECRET = "unit-test-secret"


def _people(spark):
    return spark.createDataFrame(
        [
            (1, "alice@example.com", 30, "de"),
            (2, "bob@example.com", 41, "en"),
            (3, "alice@example.com", 30, "en"),  # same email as row 1
            (4, None, 55, "en"),                 # NULL identity
        ],
        "id int, email string, age int, lang string",
    )


def test_roundtrip_and_determinism(spark):
    df = _people(spark)
    tok, vault = pseudonymize(df, ["email"], secret=SECRET)
    rows = {r.id: r.email for r in tok.collect()}
    # determinism/analyzability: equal identities share a token, NULL stays NULL
    assert rows[1] == rows[3] and rows[1] != rows[2]
    assert rows[4] is None
    assert len(rows[1]) == 64  # sha-256 hex
    # no original value anywhere in the tokenized relation
    assert "alice" not in " ".join(v for v in rows.values() if v)
    # vault is distinct-identities-sized
    assert vault["email"].count() == 2
    # full round trip restores the original relation
    back = depseudonymize(tok, vault).select("id", "email", "age", "lang")
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_tokens_remain_joinable_and_groupable(spark):
    """The entire point of DETERMINISTIC tokens: analytics still work."""
    df = _people(spark)
    tok, _ = pseudonymize(df, ["email"], secret=SECRET)
    per_identity = tok.filter(F.col("email").isNotNull()).groupBy(
        "email"
    ).count().collect()
    assert sorted(r["count"] for r in per_identity) == [1, 2]


def test_crypto_erasure_forgets_one_identity(spark):
    df = _people(spark)
    tok, vault = pseudonymize(df, ["email"], secret=SECRET)
    vault["email"] = forget_tokens(vault["email"], ["alice@example.com", None])
    back = {r.id: r.email for r in depseudonymize(tok, vault).collect()}
    assert back[2] == "bob@example.com"      # un-forgotten identity restored
    assert back[1] is None and back[3] is None  # forgotten → irrecoverable
    # the fact table itself was never rewritten: rows 1 and 3 still share
    # a token, so aggregates over the forgotten identity remain consistent
    t = {r.id: r.email for r in tok.collect()}
    assert t[1] == t[3] is not None


def test_per_column_domain_separation(spark):
    """The same value in two columns must tokenize differently (stops
    cross-column correlation), unless the caller unifies domains."""
    df = _people(spark).withColumn("backup_email", F.col("email"))
    tok, _ = pseudonymize(df, ["email", "backup_email"], secret=SECRET)
    r = tok.filter(F.col("id") == 1).first()
    assert r.email != r.backup_email


def test_token_parity_with_duckdb(spark):
    """Spark sha2(·,256) ≡ DuckDB sha256(·) on the same preimage — the
    tokenized relation stays oracle-differential-testable."""
    df = _people(spark)
    tok, _ = pseudonymize(df, ["email"], secret=SECRET)
    spark_tokens = sorted(
        r.email for r in tok.collect() if r.email is not None
    )
    expr = pseudonym_token_sql("email", secret=SECRET, domain="email")
    duck = duckdb.connect()
    duck_tokens = sorted(
        t[0]
        for t in duck.execute(
            f"SELECT {expr} FROM (VALUES ('alice@example.com'), "
            "('bob@example.com'), ('alice@example.com'), (NULL)) AS t(email) "
            f"WHERE email IS NOT NULL"
        ).fetchall()
    )
    assert spark_tokens == duck_tokens


def test_gdpr_playbook_end_to_end(spark, tmp_path_factory):
    """The full forget-me playbook the three primitives compose into:

    1. land the fact table PSEUDONYMIZED (tokens in the lake, vault in
       the restricted store) — analytics run normally;
    2. erasure request: `forget_tokens` drops the identity from the
       vault (crypto-erasure, instant, no data rewrite);
    3. when policy additionally demands physical removal of the rows,
       `tx_erase_keys` stats-prunes and rewrites ONLY the files carrying
       that token, in one log commit.
    """
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_append,
        tx_erase_keys,
        tx_read,
    )

    events = spark.createDataFrame(
        [(i, ["alice@example.com", "bob@example.com", "carol@example.com"][i % 3], i * 10)
         for i in range(60)],
        "event_id int, email string, amount int",
    )
    tok, vault = pseudonymize(events, ["email"], secret=SECRET)
    alice_token = (
        vault["email"].filter(F.col("value") == "alice@example.com").first().token
    )

    path = str(tmp_path_factory.mktemp("gdpr")) + "/events"
    tx_append(tok.repartition(8, "email"), path)

    # step 2: crypto-erasure — restore works for others, not for alice
    vault["email"] = forget_tokens(vault["email"], ["alice@example.com"])
    restored = depseudonymize(tx_read(spark, path), vault)
    assert restored.filter(F.col("email") == "bob@example.com").count() == 20
    assert restored.filter(F.col("email") == "alice@example.com").count() == 0
    # aggregates over the forgotten identity still consistent (tokens intact)
    assert tx_read(spark, path).groupBy("email").count().count() == 3

    # step 3: physical removal of the rows themselves
    stats = tx_erase_keys(spark, path, "email", [alice_token])
    assert stats["rows_removed"] == 20
    assert stats["files_rewritten"] == 1  # hash-partitioned on the token
    back = tx_read(spark, path)
    assert back.count() == 40
    assert back.filter(F.col("email") == alice_token).count() == 0


def test_sql_mirror_escapes_quoted_secret(spark):
    """A secret containing a single quote must hash identically through
    the DuckDB mirror, not splice broken SQL."""
    hostile = "it's a ' secret"
    df = spark.createDataFrame([(1, "x@y.z")], "id int, email string")
    tok, _ = pseudonymize(df, ["email"], secret=hostile)
    expr = pseudonym_token_sql("email", secret=hostile, domain="email")
    got = duckdb.connect().execute(
        f"SELECT {expr} FROM (VALUES ('x@y.z')) AS t(email)"
    ).fetchone()[0]
    assert got == tok.first().email


def test_depseudonymize_rejects_reserved_scratch_names(spark):
    import pytest

    df = spark.createDataFrame([(1, "t", "x")], "id int, email string, __tok_email string")
    tok, vault = pseudonymize(df.drop("__tok_email"), ["email"], secret=SECRET)
    with pytest.raises(ValueError):
        depseudonymize(tok.withColumn("__tok_email", F.lit("x")), vault)
