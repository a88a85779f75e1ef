"""Live-chain wiring end-to-end (S1/S2 → O1/O2): WS backfill through
executor partitions, then the head poller bridging the new-heads
subscription into the streaming tail's drop directory — all against the
in-process loopback server (no real network)."""

from __future__ import annotations

import time

from core_etl_spark.lake import Lake
from core_etl_spark.pipeline import backfill
from core_etl_spark.sources.provider import RpcBlockProvider
from core_etl_spark.sources.ws import WsJsonRpcTransport
from core_etl_spark.streaming.poller import HeadPoller
from core_etl_spark.streaming.tail import start_tail
from tests.test_ws import HANDLERS, _block
from tests.ws_server import MockWsRpcServer


def test_live_export_backfill_then_tail(spark, tmp_path):
    """The reference's full export run (export.rs:46-71 → etl.rs:126-176):
    chunked backfill over RPC, then the subscription-fed tail extends the
    lake past the backfill tip."""
    with MockWsRpcServer(HANDLERS) as srv:
        t = WsJsonRpcTransport(url=srv.url, retries=1, retry_delay=0.1)
        provider = RpcBlockProvider(transport=t, chunk_size=5)
        lake = Lake(spark, str(tmp_path / "wh"), bucket_size=25)

        n = backfill(spark, lake, provider, end=4, chunk_size=5)
        assert n == 5
        assert lake.latest_block_number() == 4
        assert lake.transactions().count() == 10  # 2 txs per fixture block

        src = str(tmp_path / "drops")
        poller = HeadPoller(spark, t, src, max_blocks=2).start()
        deadline = time.time() + 10
        while not srv._sub_ids and time.time() < deadline:
            time.sleep(0.02)  # poller subscribing
        assert srv._sub_ids, "poller never subscribed"

        srv.push_head(_block(5))
        srv.push_head(_block(6))
        poller.join(30)
        assert not poller.alive
        assert poller.blocks_written == 2

        q = start_tail(spark, lake, src, str(tmp_path / "ck"))
        q.awaitTermination(120)
        assert lake.latest_block_number() == 6
        assert lake.blocks().count() == 7
        assert lake.transactions().count() == 14
        t.close()


def test_poller_batches_heads(spark, tmp_path):
    """batch_size coalesces consecutive heads into one drop file."""
    with MockWsRpcServer(HANDLERS) as srv:
        t = WsJsonRpcTransport(url=srv.url, retries=1, retry_delay=0.1)
        src = str(tmp_path / "drops")
        poller = HeadPoller(spark, t, src, batch_size=3, max_blocks=3).start()
        deadline = time.time() + 10
        while not srv._sub_ids and time.time() < deadline:
            time.sleep(0.02)
        for n in (10, 11, 12):
            srv.push_head(_block(n))
        poller.join(30)
        assert poller.blocks_written == 3
        df = spark.read.parquet(src)
        assert sorted(r.number for r in df.select("number").collect()) == [10, 11, 12]
        # one coalesced drop → a single parquet data file
        n_files = df.select(df.number).inputFiles()
        assert len(n_files) == 1
        t.close()


def _wire_block(number: int) -> dict:
    """``getBlockByNumber(n, true)`` as a live node answers it: camelCase
    keys, hex quantities and u256 values, ``0x``-prefixed data."""
    return {
        "number": hex(number),
        "hash": f"0xh{number}",
        "parentHash": f"0xh{number - 1}",
        "nonce": "0x00",
        "sha3Uncles": "0xu",
        "logsBloom": "0xb",
        "transactionsRoot": "0xt",
        "stateRoot": "0xs",
        "receiptsRoot": "0xr",
        "miner": "0xm",
        "difficulty": "0x2a",
        "totalDifficulty": "0x2a",
        "extraData": "0x00",
        "energyLimit": "0x7a1200",
        "energyUsed": "0x0",
        "timestamp": hex(1_700_000_000 + number * 7),
        "size": "0x220",  # wire keys the engine does not store
        "uncles": [],
        "transactions": [
            {
                "blockHash": f"0xh{number}",
                "blockNumber": hex(number),
                "hash": f"0xtx{number}_{i}",
                "nonce": "0x0",
                "transactionIndex": hex(i),
                "from": "0x" + "a" * 44,
                "to": "0x" + "b" * 44,
                "value": "0xde0b6b3a7640000",
                "energy": "0x5208",
                "energyPrice": "0xa",
                "input": "0x",
            }
            for i in range(2)
        ],
    }


def test_poller_drops_wire_shape_blocks(spark, tmp_path):
    """A node in real wire shape: each reply is normalized before the
    typed drop, so hex quantities no longer fail ``createDataFrame`` and
    the drop feeds the tail's batch body into the lake."""
    from core_etl_spark.streaming.tail import RAW_BLOCK_DDL, make_tail_batch_processor

    handlers = dict(HANDLERS)
    handlers["xcb_getBlockByNumber"] = lambda p: _wire_block(int(p[0], 16))
    with MockWsRpcServer(handlers) as srv:
        t = WsJsonRpcTransport(url=srv.url, retries=1, retry_delay=0.1)
        src = str(tmp_path / "drops")
        poller = HeadPoller(spark, t, src, batch_size=2, max_blocks=2).start()
        deadline = time.time() + 10
        while not srv._sub_ids and time.time() < deadline:
            time.sleep(0.02)
        for n in (0, 1):
            srv.push_head({"number": hex(n), "hash": f"0xh{n}"})
        poller.join(30)
        t.close()
    assert poller.error is None
    assert poller.blocks_written == 2
    drop = spark.read.schema(RAW_BLOCK_DDL).parquet(src)
    rows = {r.number: r for r in drop.collect()}
    assert sorted(rows) == [0, 1]
    b1 = rows[1]
    assert (b1.hash, b1.parent_hash, b1.difficulty) == ("h1", "h0", "42")
    assert (b1.energy_limit, b1.timestamp) == (8_000_000, 1_700_000_007)
    tx = b1.transactions[1]
    assert (tx.transaction_index, tx.value, tx.input) == (1, str(10**18), "")

    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=25)
    make_tail_batch_processor(lake)(drop, 0)
    assert lake.latest_block_number() == 1
    assert lake.transactions().count() == 4
