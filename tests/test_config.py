"""appsettings-shaped config loader (lifecycle/config.py) — the
reference's tuning surface (CardanoIndexWorker.cs:54-72, rollback mode
ibid:181-202) mapped onto the rebuild's constructors, with the SAME key
paths, defaults, clamps, and required-key errors."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from argus_spark.chain.synth import synth_blocks
from argus_spark.lifecycle.config import ConfigError, IndexerConfig
from argus_spark.lifecycle.dag import Reducer, ReducerRegistry
from argus_spark.lifecycle.driver import ChainEvent, IndexDriver
from argus_spark.lifecycle.store import ParquetStateStore
from argus_spark.reducers.examples import _blocks_reducer
from tests.conftest import SF_SMOKE

BASE = {
    "CardanoNodeConnection": {
        "NetworkMagic": 764824073,
        "MaxRollbackSlots": 1000,
        "RollbackBuffer": 5,
        "Hash": "abc123",
        "Slot": 55_555,
    },
    "Sync": {
        "Commit": {"BatchSize": 42, "MaxDelayMs": 250},
        "Pipeline": {"ChannelCapacity": 64},
        "Worker": {"ExitOnCompletion": False},
        "Dashboard": {"TuiMode": False, "RefreshInterval": 1000},
    },
    # a section the rebuild doesn't own must pass through untouched
    "ConnectionStrings": {"CardanoContext": "Host=..."},
}


def test_parse_reference_key_paths_and_defaults():
    cfg = IndexerConfig.from_dict(BASE)
    assert cfg.batch_size == 42
    assert cfg.max_delay_s == 0.25
    assert cfg.max_rollback_slots == 1000
    assert cfg.window_k == 5
    assert cfg.channel_capacity == 64
    assert cfg.network_magic == 764824073
    assert (cfg.start_hash, cfg.start_slot) == ("abc123", 55_555)
    assert cfg.exit_on_completion is False
    # the reference clamps the dashboard refresh to >= 2000 ms
    assert cfg.dashboard_refresh_ms == 2000
    assert cfg.rollback_enabled is False
    assert cfg.extras == {"ConnectionStrings:CardanoContext": "Host=..."}
    assert cfg.driver_kwargs() == {
        "batch_size": 42,
        "max_delay_s": 0.25,
        "window_k": 5,
        "max_rollback_slots": 1000,
    }


def test_defaults_match_reference_when_absent():
    cfg = IndexerConfig.from_dict(
        {"CardanoNodeConnection": {"Hash": "h", "Slot": 1}}
    )
    assert cfg.batch_size == 500
    assert cfg.max_delay_s == 1.0
    assert cfg.max_rollback_slots == 10_000
    assert cfg.window_k == 10
    assert cfg.channel_capacity == 256
    assert cfg.network_magic == 2
    assert cfg.exit_on_completion is True
    assert cfg.dashboard_refresh_ms == 2000


def test_required_start_point_and_clamps():
    with pytest.raises(ConfigError, match="start hash"):
        IndexerConfig.from_dict({"CardanoNodeConnection": {"Slot": 1}})
    with pytest.raises(ConfigError, match="start slot"):
        IndexerConfig.from_dict({"CardanoNodeConnection": {"Hash": "h"}})
    cfg = IndexerConfig.from_dict(
        {
            "CardanoNodeConnection": {"Hash": "h", "Slot": 1},
            "Sync": {"Commit": {"BatchSize": 0, "MaxDelayMs": 0}},
        }
    )
    assert cfg.batch_size == 1  # Math.Max(1, ...) in the reference
    assert cfg.max_delay_s == 0.001


def test_unknown_owned_key_rejected_not_silently_defaulted():
    bad = {
        "CardanoNodeConnection": {"Hash": "h", "Slot": 1},
        "Sync": {"Commit": {"BatchSiz": 9}},  # typo
    }
    with pytest.raises(ConfigError, match="BatchSiz"):
        IndexerConfig.from_dict(bad)


def test_rewind_plan_overrides_and_opt_out():
    cfg = IndexerConfig.from_dict(
        {
            "CardanoNodeConnection": {"Hash": "h", "Slot": 1},
            "Sync": {
                "Rollback": {
                    "Enabled": True,
                    "Hash": "defhash",
                    "Slot": 700,
                    "Reducers": {
                        "a": {"Slot": 300, "Hash": "ahash"},
                        "b": {"Enabled": False},
                    },
                }
            },
        }
    )
    overrides, exclude, points = cfg.rewind_plan(["a", "b", "c"])
    # exclusive intersection semantics: the configured point is kept
    assert overrides == {"a": 301, "c": 701}
    assert exclude == ["b"]
    # the intersection hash rides along: self ?? default
    assert points == {
        "a": {"slot": 300, "hash": "ahash"},
        "c": {"slot": 700, "hash": "defhash"},
    }
    # enabled without any slot anywhere = config error (reference throws)
    cfg2 = IndexerConfig.from_dict(
        {
            "CardanoNodeConnection": {"Hash": "h", "Slot": 1},
            "Sync": {"Rollback": {"Enabled": True, "Hash": "x"}},
        }
    )
    with pytest.raises(ConfigError, match="no slot"):
        cfg2.rewind_plan(["a"])
    # rollback mode off -> no plan
    cfg3 = IndexerConfig.from_dict(
        {"CardanoNodeConnection": {"Hash": "h", "Slot": 1}}
    )
    assert cfg3.rewind_plan(["a"]) is None


def test_rewind_plan_hash_required_and_slot_zero_unset():
    """Reference semantics (CardanoIndexWorker.cs:192-200): the rollback
    HASH is required (self ?? default ?? throw) and a slot of 0 is
    UNSET — it falls through to the default slot."""
    # no hash anywhere → error, even with a slot
    cfg = IndexerConfig.from_dict(
        {
            "CardanoNodeConnection": {"Hash": "h", "Slot": 1},
            "Sync": {"Rollback": {"Enabled": True, "Slot": 700}},
        }
    )
    with pytest.raises(ConfigError, match="[Hh]ash not configured"):
        cfg.rewind_plan(["a"])
    # per-reducer Slot: 0 falls back to the default slot
    cfg2 = IndexerConfig.from_dict(
        {
            "CardanoNodeConnection": {"Hash": "h", "Slot": 1},
            "Sync": {
                "Rollback": {
                    "Enabled": True, "Hash": "x", "Slot": 700,
                    "Reducers": {"a": {"Slot": 0}},
                }
            },
        }
    )
    overrides, _, points = cfg2.rewind_plan(["a"])
    assert overrides == {"a": 701}
    assert points["a"]["slot"] == 700
    # default Slot: 0 is also unset → error
    cfg3 = IndexerConfig.from_dict(
        {
            "CardanoNodeConnection": {"Hash": "h", "Slot": 1},
            "Sync": {"Rollback": {"Enabled": True, "Hash": "x", "Slot": 0}},
        }
    )
    with pytest.raises(ConfigError, match="no slot"):
        cfg3.rewind_plan(["a"])


def test_string_booleans_parse_dotnet_style():
    """appsettings values are often strings; bool("false") is True in
    Python, which would silently IGNORE a per-reducer rollback opt-out
    and destructively rewind it. Strings must parse semantically, and
    non-boolean junk must be rejected."""
    cfg = IndexerConfig.from_dict(
        {
            "CardanoNodeConnection": {"Hash": "h", "Slot": 1},
            "Sync": {
                "Worker": {"ExitOnCompletion": "false"},
                "Rollback": {
                    "Enabled": "true", "Hash": "x", "Slot": 700,
                    "Reducers": {"b": {"Enabled": "False"}},
                },
            },
        }
    )
    assert cfg.exit_on_completion is False
    assert cfg.rollback_enabled is True
    _, exclude, _ = cfg.rewind_plan(["a", "b"])
    assert exclude == ["b"]  # string "False" honored as an opt-out
    with pytest.raises(ConfigError, match="boolean"):
        IndexerConfig.from_dict(
            {
                "CardanoNodeConnection": {"Hash": "h", "Slot": 1},
                "Sync": {"Worker": {"ExitOnCompletion": "yes"}},
            }
        )


def test_config_driven_driver_sync_and_startup_rewind(spark, tmp_path):
    """End to end: construct the driver FROM the parsed config, sync,
    then restart in the reference's rollback mode — the config-driven
    startup rewind must cut the table to the configured slot exactly."""
    blocks = synth_blocks(spark, SF_SMOKE).cache()
    try:
        slots = [
            r.slot for r in blocks.select("slot").orderBy("slot").collect()
        ]
        cut = slots[len(slots) // 2]
        cut_hash = blocks.filter(blocks.slot == cut).first()["hash"]
        cfg = IndexerConfig.from_dict(
            {
                "CardanoNodeConnection": {
                    "Hash": "h", "Slot": 0, "RollbackBuffer": 5,
                    "MaxRollbackSlots": 10**12,
                },
                "Sync": {"Commit": {"BatchSize": 300, "MaxDelayMs": 10**9}},
            }
        )
        store = ParquetStateStore(str(tmp_path / "store"))
        reg = ReducerRegistry().register(
            Reducer("block_tests", _blocks_reducer, tables=["block_tests"])
        )
        d = IndexDriver(spark, reg, store, blocks, **cfg.driver_kwargs())
        assert d.batch_size == 300 and d.window_k == 5
        d.run([ChainEvent("roll_forward", block_slot=s) for s in slots])
        assert not cfg.apply_startup_rewind(d)  # rollback mode off

        rb = IndexerConfig.from_dict(
            {
                "CardanoNodeConnection": {
                    "Hash": "h", "Slot": 0, "MaxRollbackSlots": 10**12,
                },
                "Sync": {
                    "Rollback": {
                        "Enabled": True, "Slot": cut, "Hash": cut_hash,
                    }
                },
            }
        )
        d2 = IndexDriver(spark, reg, store, blocks, **rb.driver_kwargs())
        assert rb.apply_startup_rewind(d2)
        got = sorted(
            r.slot
            for r in store.read_table(spark, "block_tests")
            .select("slot")
            .collect()
        )
        # the configured intersection slot itself is KEPT (exclusive)
        assert got == [s for s in slots if s <= cut]
    finally:
        blocks.unpersist()


def test_streaming_indexer_from_config(spark, tmp_path):
    """Config → StreamingIndexer → real availableNow run: BatchSize,
    RollbackBuffer, and ChannelCapacity land on the right knobs and the
    ExitOnCompletion dispatch drains the feed to the oracle state."""
    import json as _json

    from argus_spark.sources.chain_feed import write_feed_file
    from argus_spark.streaming.indexer import StreamingIndexer

    blocks = synth_blocks(spark, SF_SMOKE).cache()
    try:
        slots = [
            r.slot for r in blocks.select("slot").orderBy("slot").collect()
        ]
        cfg_path = tmp_path / "appsettings.json"
        cfg_path.write_text(_json.dumps({
            "CardanoNodeConnection": {
                "Hash": "h", "Slot": 0,
                "RollbackBuffer": 7, "MaxRollbackSlots": 10**12,
            },
            "Sync": {
                "Commit": {"BatchSize": 150, "MaxDelayMs": 10**12},
                "Pipeline": {"ChannelCapacity": 2},
                "Worker": {"ExitOnCompletion": True},
            },
        }))
        cfg = IndexerConfig.from_json(str(cfg_path))
        feed = str(tmp_path / "feed")
        rows = [
            {"seq": i, "action": "roll_forward", "block_slot": s,
             "rollback_slot": None, "rollback_type": None}
            for i, s in enumerate(slots)
        ]
        seg = max(1, len(rows) // 5)
        for i, lo in enumerate(range(0, len(rows), seg)):
            write_feed_file(feed, i, rows[lo : lo + seg])
        store = ParquetStateStore(str(tmp_path / "store"))
        reg = ReducerRegistry().register(
            Reducer("block_tests", _blocks_reducer, tables=["block_tests"])
        )
        si = StreamingIndexer.from_config(
            spark, reg, store, blocks, feed, str(tmp_path / "ck"), cfg
        )
        assert si.driver.batch_size == 150
        assert si.driver.window_k == 7
        assert si.max_files_per_trigger == 2
        stats = si.run_from_config(cfg)
        assert stats.micro_batches >= 3  # 6 files at 2/trigger
        got = sorted(
            r.slot
            for r in store.read_table(spark, "block_tests")
            .select("slot")
            .collect()
        )
        assert got == slots
    finally:
        blocks.unpersist()


def test_streaming_indexer_from_config_forwards_max_rollback_slots(spark, tmp_path):
    """``CardanoNodeConnection:MaxRollbackSlots`` sets the reorg depth
    guard of the streaming path's driver, as ``driver_kwargs`` does for
    a config-built ``IndexDriver``, instead of the 10,000-slot default."""
    from argus_spark.streaming.indexer import StreamingIndexer

    cfg = IndexerConfig.from_dict(BASE)
    blocks = spark.createDataFrame([(0,)], "slot long")
    reg = ReducerRegistry().register(
        Reducer("block_tests", _blocks_reducer, tables=["block_tests"])
    )
    si = StreamingIndexer.from_config(
        spark, reg, ParquetStateStore(str(tmp_path / "store")), blocks,
        str(tmp_path / "feed"), str(tmp_path / "ck"), cfg,
    )
    assert si.driver.max_rollback_slots == cfg.max_rollback_slots == 1000


def test_wrong_rollback_hash_refuses_rewind(spark, tmp_path):
    """A configured intersection whose hash contradicts the COMMITTED
    checkpoint at that slot is not on this chain — the rewind must be
    refused (the reference's node would reject the intersection;
    CardanoIndexWorker.cs:192-200 builds the Point from hash+slot)."""
    blocks = synth_blocks(spark, SF_SMOKE).cache()
    try:
        slots = [
            r.slot for r in blocks.select("slot").orderBy("slot").collect()
        ]
        store = ParquetStateStore(str(tmp_path / "store"))
        reg = ReducerRegistry().register(
            Reducer("block_tests", _blocks_reducer, tables=["block_tests"])
        )
        d = IndexDriver(
            spark, reg, store, blocks, batch_size=10**6, max_delay_s=1e9,
            window_k=10, max_rollback_slots=10**12,
        )
        d.run([ChainEvent("roll_forward", block_slot=s) for s in slots])
        cut = slots[-3]  # inside the retained 10-point window
        bad = IndexerConfig.from_dict(
            {
                "CardanoNodeConnection": {
                    "Hash": "h", "Slot": 0, "MaxRollbackSlots": 10**12,
                },
                "Sync": {
                    "Rollback": {
                        "Enabled": True, "Slot": cut,
                        "Hash": "not-the-committed-hash",
                    }
                },
            }
        )
        d2 = IndexDriver(
            spark, reg, store, blocks, max_rollback_slots=10**12
        )
        with pytest.raises(ConfigError, match="not on this chain"):
            bad.apply_startup_rewind(d2)
        # nothing was rewound: the table still holds the full chain
        n = store.read_table(spark, "block_tests").count()
        assert n == len(slots)
        # the same point with the COMMITTED hash is accepted
        cut_hash = blocks.filter(blocks.slot == cut).first()["hash"]
        good = IndexerConfig.from_dict(
            {
                "CardanoNodeConnection": {
                    "Hash": "h", "Slot": 0, "MaxRollbackSlots": 10**12,
                },
                "Sync": {
                    "Rollback": {
                        "Enabled": True, "Slot": cut, "Hash": cut_hash,
                    }
                },
            }
        )
        d3 = IndexDriver(
            spark, reg, store, blocks, max_rollback_slots=10**12
        )
        assert good.apply_startup_rewind(d3)
        got = sorted(
            r.slot
            for r in store.read_table(spark, "block_tests")
            .select("slot").collect()
        )
        assert got == [s for s in slots if s <= cut]
    finally:
        blocks.unpersist()


def test_make_provider_dispatch_and_required_keys():
    """The reference provider factory's dispatch + required-key errors
    (ConfigurationChainProviderFactory.cs:13-66), verbatim."""
    from argus_spark.sources.providers import (
        FollowTipShapedProvider,
        SocketLineProvider,
    )

    base = {"Hash": "h", "Slot": 1}

    def cfg_of(conn):
        return IndexerConfig.from_dict(
            {"CardanoNodeConnection": {**base, **conn}}
        )

    # no ConnectionType → the factory's "not configured" error
    with pytest.raises(ConfigError, match="Connection type not configured"):
        cfg_of({}).make_provider()
    # invalid type rejected AT PARSE (reference throws at create; either
    # way the bad value never silently passes)
    with pytest.raises(ConfigError, match="Invalid chain provider"):
        cfg_of({"ConnectionType": "Carrier-Pigeon"})
    # each type's required keys
    with pytest.raises(ConfigError, match="Socket path"):
        cfg_of({"ConnectionType": "UnixSocket"}).make_provider()
    with pytest.raises(ConfigError, match="Host is not configured"):
        cfg_of({"ConnectionType": "TCP"}).make_provider()
    with pytest.raises(ConfigError, match="Port is not configured"):
        cfg_of(
            {"ConnectionType": "TCP", "TCP": {"Host": "x"}}
        ).make_provider()
    with pytest.raises(ConfigError, match="gRPC endpoint"):
        cfg_of({"ConnectionType": "gRPC"}).make_provider()
    with pytest.raises(ConfigError, match="API key"):
        cfg_of(
            {"ConnectionType": "gRPC", "gRPC": {"Endpoint": "h:1"}}
        ).make_provider()
    # happy dispatch
    p = cfg_of(
        {"ConnectionType": "UnixSocket",
         "UnixSocket": {"Path": "/ipc/node.socket"}}
    ).make_provider()
    assert isinstance(p, SocketLineProvider)
    assert p.unix_path == "/ipc/node.socket"
    p = cfg_of(
        {"ConnectionType": "TCP",
         "TCP": {"Host": "n1", "Port": 3001, "PipelineDepth": 50}}
    ).make_provider()
    assert isinstance(p, SocketLineProvider)
    assert (p.host, p.port, p.pipeline_depth) == ("n1", 3001, 50)
    p = cfg_of(
        {"ConnectionType": "gRPC",
         "gRPC": {"Endpoint": "relay:50051", "ApiKey": "dmtr_k"}}
    ).make_provider()
    assert isinstance(p, FollowTipShapedProvider)
    assert (p.host, p.port, p.api_key) == ("relay", 50051, "dmtr_k")


def test_active_reducers_allowlist_wiring():
    """CardanoIndexReducers:ActiveReducers drives with_allowlist
    (ReducerExtension.cs:44-47): absent = all; listed = exactly those;
    unknown names throw."""
    from argus_spark.lifecycle.dag import GraphError
    from argus_spark.reducers.examples import _transactions_reducer

    reg = (
        ReducerRegistry()
        .register(
            Reducer("block_tests", _blocks_reducer, tables=["block_tests"])
        )
        .register(
            Reducer(
                "transaction_tests", _transactions_reducer,
                tables=["transaction_tests"],
            )
        )
    )
    base = {"CardanoNodeConnection": {"Hash": "h", "Slot": 1}}
    # absent → registry unchanged
    assert IndexerConfig.from_dict(base).apply_allowlist(reg) is reg
    # listed → filtered
    cfg = IndexerConfig.from_dict(
        {**base,
         "CardanoIndexReducers": {"ActiveReducers": ["block_tests"]}}
    )
    assert cfg.active_reducers == ["block_tests"]
    filtered = cfg.apply_allowlist(reg)
    assert [r.name for r in filtered.roots()] == ["block_tests"]
    # unknown name → throws (the reference's ArgumentException)
    bad = IndexerConfig.from_dict(
        {**base, "CardanoIndexReducers": {"ActiveReducers": ["nope"]}}
    )
    with pytest.raises(GraphError, match="nope"):
        bad.apply_allowlist(reg)
    # .NET-flattened indexed leaves parse too
    idx = IndexerConfig.from_dict(
        {**base,
         "CardanoIndexReducers": {
             "ActiveReducers": {"0": "block_tests", "1": "transaction_tests"}
         }}
    )
    assert idx.active_reducers == ["block_tests", "transaction_tests"]


def test_verbatim_reference_appsettings_drives_engine(spark, tmp_path):
    """THE drop-in contract: an appsettings.json containing EVERY
    reference key family — transport selection (ConnectionType +
    UnixSocket/TCP/gRPC blocks), single-instance lock, dashboard
    display type, reducer allow-list, connection strings — parses,
    constructs config + provider + lock + allow-listed registry, and
    runs an end-to-end sync through the config-built provider."""
    import json as _json

    from argus_spark.reducers.examples import _transactions_reducer
    from argus_spark.sources.providers import (
        SocketLineProvider,
        serve_feed_once,
    )

    blocks = synth_blocks(spark, SF_SMOKE).cache()
    try:
        slots = [
            r.slot for r in blocks.select("slot").orderBy("slot").collect()
        ]
        rows = [
            {"seq": i, "action": "roll_forward", "block_slot": s,
             "rollback_slot": None, "rollback_type": None}
            for i, s in enumerate(slots)
        ]
        host, port = serve_feed_once(rows)
        cfg_path = tmp_path / "appsettings.json"
        cfg_path.write_text(_json.dumps({
            "ConnectionStrings": {
                "CardanoContext": "Host=db;Database=argus",
                "CardanoContextSchema": "public",
            },
            "CardanoNodeConnection": {
                "ConnectionType": "TCP",
                "UnixSocket": {"Path": "/ipc/node.socket"},
                "TCP": {"Host": host, "Port": port, "PipelineDepth": 50},
                "gRPC": {
                    "Endpoint": "https-like:50051", "ApiKey": "dmtr_key",
                },
                "NetworkMagic": 764824073,
                "MaxRollbackSlots": 10**12,
                "RollbackBuffer": 10,
                "Hash": "genesis-hash",
                "Slot": 0,
            },
            "Sync": {
                "Dashboard": {
                    "TuiMode": True,
                    "RefreshInterval": 5000,
                    "DisplayType": "Full",
                },
                "Worker": {"ExitOnCompletion": True},
                "Commit": {"BatchSize": 400, "MaxDelayMs": 10**9},
                "Pipeline": {"ChannelCapacity": 64},
                "SingleInstanceLock": {
                    "Enabled": True,
                    "LeaseSeconds": 1,   # clamped up to 2 (reference)
                    "RenewSeconds": 0,   # clamped up to 1
                    "PollSeconds": 0,    # clamped up to 1
                    "HealthCheckSeconds": 0,  # clamped up to 1
                },
            },
            "CardanoIndexReducers": {"ActiveReducers": ["block_tests"]},
        }))
        cfg = IndexerConfig.from_json(str(cfg_path))

        # every family landed on its knob
        assert cfg.connection_type == "TCP"
        assert cfg.unix_socket_path == "/ipc/node.socket"
        assert cfg.grpc_endpoint == "https-like:50051"
        assert (cfg.lock_lease_s, cfg.lock_renew_s,
                cfg.lock_poll_s, cfg.lock_health_s) == (2, 1, 1, 1)
        assert cfg.dashboard_full()
        assert cfg.extras == {
            "ConnectionStrings:CardanoContext": "Host=db;Database=argus",
            "ConnectionStrings:CardanoContextSchema": "public",
        }

        # allow-list: two registered, one active
        reg = (
            ReducerRegistry()
            .register(
                Reducer(
                    "block_tests", _blocks_reducer, tables=["block_tests"]
                )
            )
            .register(
                Reducer(
                    "transaction_tests", _transactions_reducer,
                    tables=["transaction_tests"],
                )
            )
        )
        reg = cfg.apply_allowlist(reg)
        assert [r.name for r in reg.roots()] == ["block_tests"]

        # provider from config, sync under the config-built lock
        prov = cfg.make_provider()
        assert isinstance(prov, SocketLineProvider)
        assert prov.pipeline_depth == 50
        store_root = str(tmp_path / "store")
        store = ParquetStateStore(store_root)
        lock = cfg.make_lock(store_root)
        assert lock is not None and lock.lease_s == 2.0
        with lock:
            d = IndexDriver(
                spark, reg, store, blocks, **cfg.driver_kwargs()
            )
            d.run(list(prov.events(intersect=[])))
        got = sorted(
            r.slot
            for r in store.read_table(spark, "block_tests")
            .select("slot").collect()
        )
        assert got == slots
        # the allow-listed-out reducer wrote nothing
        assert "transaction_tests" not in store.current_manifest()["tables"]
        # lock opt-out honored
        off = IndexerConfig.from_dict({
            "CardanoNodeConnection": {"Hash": "h", "Slot": 0},
            "Sync": {"SingleInstanceLock": {"Enabled": "false"}},
        })
        assert off.make_lock(store_root) is None
    finally:
        blocks.unpersist()


def test_reference_readme_sample_appsettings_parses_verbatim():
    """The reference README's '5. Configure appsettings.json' sample,
    byte-for-byte (reference README.md) — the literal file a migrating
    user starts from. It must parse, land every key on its knob, and
    drive provider selection (UnixSocket) + the allow-list."""
    import json as _json

    sample = _json.loads("""
{
  "ConnectionStrings": {
    "CardanoContext": "Host=localhost;Database=argus;Username=postgres;Password=postgres;Port=5432",
    "CardanoContextSchema": "public"
  },
  "CardanoNodeConnection": {
    "ConnectionType": "UnixSocket",
    "UnixSocket": { "Path": "/path/to/node.socket" },
    "TCP":  { "Host": "localhost", "Port": 3001 },
    "gRPC": { "Endpoint": "https://your-utxorpc-endpoint", "ApiKey": "..." },
    "NetworkMagic": 764824073,
    "Slot": 139522569,
    "Hash": "3fd9925888302fca267c580d8fe6ebc923380d0b984523a1dfbefe88ef089b66",
    "MaxRollbackSlots": 10000,
    "RollbackBuffer": 10
  },
  "CardanoIndexReducers": {
    "ActiveReducers": [ "BlockReducer" ]
  },
  "Sync": {
    "Dashboard": { "TuiMode": true, "RefreshInterval": 5000 }
  }
}
""")
    cfg = IndexerConfig.from_dict(sample)
    assert cfg.connection_type == "UnixSocket"
    assert cfg.unix_socket_path == "/path/to/node.socket"
    assert (cfg.tcp_host, cfg.tcp_port) == ("localhost", 3001)
    assert cfg.grpc_endpoint == "https://your-utxorpc-endpoint"
    assert cfg.network_magic == 764824073
    assert (cfg.start_slot, cfg.start_hash[:8]) == (139522569, "3fd99258")
    assert (cfg.max_rollback_slots, cfg.window_k) == (10000, 10)
    assert cfg.active_reducers == ["BlockReducer"]
    assert cfg.tui_mode is True and cfg.dashboard_refresh_ms == 5000
    assert set(cfg.extras) == {
        "ConnectionStrings:CardanoContext",
        "ConnectionStrings:CardanoContextSchema",
    }
    # provider dispatch follows ConnectionType
    from argus_spark.sources.providers import SocketLineProvider

    p = cfg.make_provider()
    assert isinstance(p, SocketLineProvider)
    assert p.unix_path == "/path/to/node.socket"


def test_config_property_unknown_owned_keys_always_rejected():
    """Property (Hypothesis): ANY unknown leaf under an owned prefix —
    e.g. a one-character typo of a real key — raises ConfigError, never
    a silent default; and any subset of KNOWN keys with in-domain
    values parses. The reference silently defaults on typos
    (IConfiguration.GetValue) — rejecting them is this rebuild's
    deliberate hardening, so it must hold for every key, not a
    hand-picked sample."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from argus_spark.lifecycle.config import _KNOWN

    owned = sorted(k for k in _KNOWN if ":" in k)

    def typo(key: str) -> str:
        # drop the last character of the leaf — never a valid key
        return key[:-1]

    @settings(max_examples=50, deadline=None)
    @given(st.sampled_from(owned), st.integers(0, 10**6))
    def rejects(key, v):
        bad = {"CardanoNodeConnection": {"Hash": "h", "Slot": 1}}
        node = bad
        parts = typo(key).split(":")
        # skip cases where the typo collapses onto another real key
        # or onto a real intermediate section
        if any(k.startswith(typo(key) + ":") or k == typo(key) for k in _KNOWN):
            return
        for p in parts[:-1]:
            node = node.setdefault(p, {})
        if not isinstance(node, dict):
            return
        node[parts[-1]] = v
        with pytest.raises(ConfigError):
            IndexerConfig.from_dict(bad)

    rejects()

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(1, 10**6), st.integers(1, 10**6),
        st.booleans(), st.booleans(),
        st.sampled_from(["UnixSocket", "TCP", "gRPC"]),
    )
    def parses(batch, delay, exit_on, tui, conn):
        cfg = IndexerConfig.from_dict({
            "CardanoNodeConnection": {
                "Hash": "h", "Slot": 1, "ConnectionType": conn,
            },
            "Sync": {
                "Commit": {"BatchSize": batch, "MaxDelayMs": delay},
                "Worker": {"ExitOnCompletion": exit_on},
                "Dashboard": {"TuiMode": tui},
            },
        })
        assert cfg.batch_size == max(1, batch)
        assert cfg.exit_on_completion is exit_on
        assert cfg.connection_type == conn

    parses()
