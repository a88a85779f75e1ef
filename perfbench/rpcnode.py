"""A loopback WebSocket JSON-RPC node serving a pre-generated chain in the
wire shape a real node uses: camelCase keys, hex quantities, 0x-prefixed
data. Replies are serialized once at set-up, so the node's own cost per
request is a dict lookup and a frame write; it counts every call, every
connection and the time it spends serving.

The WebSocket side (handshake, framing, one thread per connection) is the
test suite's ``MockWsRpcServer``; only the dispatch is the node's own.
"""

from __future__ import annotations

import json
import socket
import threading
import time

from tests.ws_server import MockWsRpcServer

#: engine column -> wire key, for the keys a node spells in camelCase
_CAMEL = {
    "parent_hash": "parentHash", "sha3_uncles": "sha3Uncles",
    "logs_bloom": "logsBloom", "transactions_root": "transactionsRoot",
    "state_root": "stateRoot", "receipts_root": "receiptsRoot",
    "total_difficulty": "totalDifficulty", "extra_data": "extraData",
    "energy_limit": "energyLimit", "energy_used": "energyUsed",
    "transaction_index": "transactionIndex", "energy_price": "energyPrice",
}
#: quantities and u256 values travel as hex numbers
_HEX_NUMBER = {"number", "energy_limit", "energy_used", "timestamp",
               "transaction_index", "difficulty", "total_difficulty", "value",
               "energy", "energy_price"}


def _wire_value(key: str, v):
    if v is None:
        return None
    if key in _HEX_NUMBER:
        return hex(int(v))
    return "0x" + str(v)


def wire_block(block: dict) -> dict:
    """One engine-canonical raw block (the fixture shape) as a node
    returns it from ``getBlockByNumber(n, true)``. Data fields are the
    canonical hex string behind a ``0x`` prefix — the inverse of the
    engine's prefix strip — so the fixture's literal ``0x`` empty
    calldata travels as ``0x0x``."""
    out = {}
    for k, v in block.items():
        if k == "transactions":
            out[k] = [
                {_CAMEL.get(tk, tk): _wire_value(tk, tv) for tk, tv in t.items()}
                for t in v
            ]
        else:
            out[_CAMEL.get(k, k)] = _wire_value(k, v)
    return out


class LoopbackNode(MockWsRpcServer):
    """Serves ``blocks`` (height -> reply JSON text) and ``receipts``
    (0x-hash -> reply JSON text) on 127.0.0.1.

    Counters: ``block_calls``, ``receipt_calls``, ``connections`` and
    ``busy_s`` (time spent answering requests, summed over connection
    threads)."""

    def __init__(self, blocks: dict[int, str], receipts: dict[str, str],
                 tip: int) -> None:
        self.blocks = blocks
        self.receipts = receipts
        self.tip = tip
        self._lock = threading.Lock()
        self.reset_counters()
        super().__init__()

    def reset_counters(self) -> None:
        with self._lock:
            self.block_calls = self.receipt_calls = 0
            self.connect_attempts = 0
            self.busy_s = 0.0

    def counters(self) -> dict:
        with self._lock:
            return {
                "block_calls": self.block_calls,
                "receipt_calls": self.receipt_calls,
                "connections": self.connect_attempts,
                "busy_s": self.busy_s,
            }

    def close(self) -> None:
        """Stop accepting (``shutdown`` wakes the blocked ``accept``) and
        wait for the accept thread."""
        try:
            self._srv.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        super().close()
        self._thread.join(timeout=10)

    def _dispatch(self, conn: socket.socket, msg: dict) -> None:
        t0 = time.perf_counter()
        method, params, rid = msg.get("method"), msg.get("params") or [], msg.get("id")
        if method == "xcb_getBlockByNumber":
            result, counter = self.blocks.get(int(params[0], 16), "null"), "block_calls"
        elif method == "xcb_getTransactionReceipt":
            result, counter = self.receipts.get(params[0], "null"), "receipt_calls"
        elif method == "xcb_blockNumber":
            result, counter = json.dumps(hex(self.tip)), None
        else:
            super()._dispatch(conn, msg)  # the JSON-RPC "no method" error
            return
        self._send_text(conn, '{"jsonrpc":"2.0","id":%s,"result":%s}'
                        % (json.dumps(rid), result))
        dt = time.perf_counter() - t0
        with self._lock:
            if counter:
                setattr(self, counter, getattr(self, counter) + 1)
            self.busy_s += dt
