"""Control-plane tests: observe()-based metrics + cost metering, graph
MERGE statement builders, DDL generation."""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F

from neynar_parquet_importer_spark.catalog import REFERENCE_TABLES
from neynar_parquet_importer_spark.graph.writer import (
    clamp_batch_size,
    edge_merge_cypher,
    node_merge_cypher,
    table_to_label,
)
from neynar_parquet_importer_spark.sinks.ddl import (
    bootstrap_statements,
    ledger_ddl,
    substitute_schema,
    tablespec_to_pg_ddl,
)
from neynar_parquet_importer_spark.streaming.metrics import (
    BatchMetrics,
    collect_metrics,
    compute_unit_cost,
    observe_filter,
)


def test_observe_filter_counts(spark):
    df = spark.range(100)
    scanned, kept = Observation(), Observation()
    out = observe_filter(df, F.col("id") < 30, scanned, kept)
    assert out.count() == 30
    m = collect_metrics(int(scanned.get["n"]), int(kept.get["n"]), window_end_ts=90.0, now=100.0)
    assert (m.rows_scanned, m.rows_imported, m.rows_filtered) == (100, 30, 70)
    assert m.file_age_s == 10.0


def test_compute_unit_cost():
    m = BatchMetrics(rows_scanned=100, rows_imported=30, rows_filtered=70)
    # filters active: all scanned rows at 1.1x (db.py:844-856)
    assert compute_unit_cost(m, cost_per_row=2.0, filters_active=True) == 100 * 1.1 * 2.0
    assert compute_unit_cost(m, cost_per_row=2.0, filters_active=False) == 30 * 2.0


def test_node_merge_cypher():
    q = node_merge_cypher("User", "id", ["id", "username", "updated_at"])
    assert q.startswith("UNWIND $batch AS row MERGE (n:User {id: row.id})")
    assert "n.username = row.username" in q and "n.id = row.id" not in q


def test_edge_merge_cypher():
    q = edge_merge_cypher("FOLLOWS", "User", "User", prop_columns=["timestamp"])
    assert "MERGE (a:User {id: row.src})" in q
    assert "MERGE (b:User {id: row.dst})" in q
    assert "MERGE (a)-[r:FOLLOWS]->(b)" in q and "r.timestamp = row.timestamp" in q


def test_batch_clamp_and_label():
    assert clamp_batch_size(50) == 100
    assert clamp_batch_size(50_000) == 10_000
    assert clamp_batch_size(1234) == 1234
    assert table_to_label("follows") == "Follows"


def test_tablespec_ddl():
    ddl = tablespec_to_pg_ddl(REFERENCE_TABLES["verifications"], schema="s")
    assert "CREATE TABLE IF NOT EXISTS s.verifications" in ddl
    assert "address bytea" in ddl
    assert "protocol smallint" in ddl
    assert "PRIMARY KEY (id)" in ddl
    casts = tablespec_to_pg_ddl(REFERENCE_TABLES["casts"], schema="s")
    assert "embeds jsonb" in casts  # json columns map to jsonb
    assert "mentions bigint[]" in casts


def test_schema_substitution():
    ddl = ledger_ddl()
    assert "${POSTGRES_SCHEMA}" in ddl
    assert "public.parquet_import_tracking" in substitute_schema(ddl, "public")


def test_bootstrap_statements_order():
    stmts = bootstrap_statements([REFERENCE_TABLES["follows"]], "nindexer")
    assert stmts[0].startswith("CREATE SCHEMA")
    assert "parquet_import_tracking" in stmts[1]
    assert "nindexer.follows" in stmts[2]


def test_full_catalog_bootstrap():
    """Every table the reference imports (main.py:44-87: 15 active v2
    farcaster + 18 v3 nindexer + the v2-only profile_with_addresses) has a
    transcribed spec, and bootstrap emits schema + ledger + one CREATE
    TABLE per spec + the profiles_with_verifications view."""
    from neynar_parquet_importer_spark.catalog import (
        ALL_TABLES,
        ALL_VIEWS,
        REFERENCE_TABLES_V2,
        REFERENCE_TABLES_V3,
    )

    v2_expected = {
        "account_verifications", "blocks", "casts", "channel_follows",
        "channel_members", "channels", "fids", "fnames", "power_users",
        "reactions", "signers", "storage", "user_data", "user_labels",
        "warpcast_power_users", "profile_with_addresses",
    }
    v3_expected = {
        "blocks", "casts", "channels", "channel_follows", "channel_members",
        "fids", "reactions", "follow_counts", "follows", "neynar_user_scores",
        "profile_external_accounts", "profiles", "signers", "storage_rentals",
        "user_labels", "usernames", "verifications", "tier_purchases",
    }
    assert set(REFERENCE_TABLES_V2) == v2_expected
    assert set(REFERENCE_TABLES_V3) == v3_expected
    assert ALL_TABLES[("public-postgres", "farcaster")] is REFERENCE_TABLES_V2
    assert ALL_VIEWS[("public-postgres", "nindexer")] == {
        "profiles_with_verifications": ("profiles", "verifications")
    }

    specs = list(REFERENCE_TABLES_V3.values()) + [
        s for n, s in REFERENCE_TABLES_V2.items() if n not in REFERENCE_TABLES_V3
    ]
    stmts = bootstrap_statements(specs, "nindexer")
    creates = [s for s in stmts if s.startswith("CREATE TABLE")]
    # ledger + one per spec (34 distinct table names across both versions)
    assert len(creates) == 1 + len(specs)
    view = [s for s in stmts if "CREATE OR REPLACE VIEW" in s]
    assert len(view) == 1
    assert "nindexer.profiles_with_verifications" in view[0]
    assert "'0x' || encode(v.address, 'hex')" in view[0]
    assert "ORDER BY v.timestamp DESC" in view[0]
    # view omitted when its base tables aren't bootstrapped
    stmts_partial = bootstrap_statements(
        [REFERENCE_TABLES_V3["follows"]], "nindexer"
    )
    assert not any("CREATE OR REPLACE VIEW" in s for s in stmts_partial)


def test_v2_array_columns_ddl():
    from neynar_parquet_importer_spark.catalog import REFERENCE_TABLES_V2

    casts = tablespec_to_pg_ddl(REFERENCE_TABLES_V2["casts"], schema="farcaster")
    assert "mentions bigint[]" in casts  # v2 JSON-string array -> bigint[]
    assert "mentions_positions smallint[]" in casts
    assert "embeds jsonb" in casts
    channels = tablespec_to_pg_ddl(REFERENCE_TABLES_V2["channels"], schema="farcaster")
    assert "moderator_fids bigint[]" in channels


def test_pricing_cache_ttl():
    from neynar_parquet_importer_spark.streaming.metrics import PricingCache

    calls = []
    clock = [0.0]
    cache = PricingCache(
        lambda product: (calls.append(product) or {"rows_written": 2.5}),
        ttl_s=8 * 3600,
        now_fn=lambda: clock[0],
    )
    assert cache.cost_per_row("indexer") == 2.5
    clock[0] = 4 * 3600
    assert cache.cost_per_row("indexer") == 2.5
    assert calls == ["indexer"]  # within TTL: one fetch
    clock[0] = 9 * 3600
    assert cache.cost_per_row("indexer") == 2.5
    assert calls == ["indexer", "indexer"]  # TTL lapsed: re-fetch


def test_settings_defaulting(monkeypatch):
    from neynar_parquet_importer_spark.settings import Settings

    for var in ("NPE_VERSION", "NPE_DURATION", "PARQUET_S3_SCHEMA", "TABLES"):
        monkeypatch.delenv(var, raising=False)
    s = Settings().initialize()
    assert (s.npe_version, s.parquet_s3_schema, s.incremental_duration) == (
        "v2", "farcaster", 300,
    )
    monkeypatch.setenv("NPE_VERSION", "v3")
    monkeypatch.setenv("TABLES", "follows,casts")
    s3 = Settings().initialize()
    assert (s3.parquet_s3_schema, s3.incremental_duration) == ("nindexer", 1)
    sel = s3.selected_tables()
    assert set(sel) == {"follows", "casts"}
    assert sel["follows"].uuid_columns == ("id",)
    monkeypatch.setenv("TABLES", "nope")
    import pytest as _pytest

    with _pytest.raises(KeyError):
        Settings().initialize().selected_tables()


def test_cli_bootstrap_ddl(monkeypatch, capsys):
    from neynar_parquet_importer_spark.__main__ import main

    monkeypatch.setenv("NPE_VERSION", "v3")
    monkeypatch.setenv("TABLES", "profiles,verifications")
    assert main(["bootstrap-ddl", "--schema", "nindexer"]) == 0
    out = capsys.readouterr().out
    assert "CREATE TABLE IF NOT EXISTS nindexer.profiles" in out
    assert "CREATE TABLE IF NOT EXISTS nindexer.verifications" in out
    assert "CREATE OR REPLACE VIEW nindexer.profiles_with_verifications" in out
