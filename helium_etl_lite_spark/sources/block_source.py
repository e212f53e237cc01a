"""Block/transaction sources (SURVEY §2.1 E1-E3): what the follower
follows.

The reference pulls blocks over JSON-RPC: a tip probe
(src/follower.rs:76), a raw-block fetch per height
(src/block_processor.rs:29) and an N+1 typed-txn fetch per hash
(:58, :130). A source here answers the three questions the follower's
one catch-up loop asks (etl/pipeline.py IncrementalFollower), so landed
files and a live node run through the same loop:

  tip()          the newest height (None when there is no block)
  first()        the backfill start (reference get_first_block,
                 src/follower.rs:144-194; None when there is no block)
  range(lo, hi)  the (blocks, txns) DataFrames for one pass over [lo, hi]
  PASS_LIMIT     blocks per pass when max_blocks_per_batch is unset
                 (None: the whole lag in one pass)

Two implementations:

- LandedBlockSource: block and transaction DataFrames over landed
  parquet or JSON-lines files (cli.py picks the reader). tip() and
  first() are one aggregate each; range() is a height predicate that
  partition-prunes, so the whole lag runs as one distributed job.
- RpcBlockSource: driver-side point fetches over an RpcClient — the
  literal reference topology, for near-tip following where only a
  handful of new blocks exist per tick. A pass fetches each block and
  each transaction once, then hands them to Spark with one
  createDataFrame per table instead of the reference's per-row INSERTs.

RpcClient is a protocol with two implementations: HttpRpcClient (a
stdlib-urllib JSON-RPC 2.0 client speaking the blockchain-node API the
reference's helium-jsonrpc crate wraps) and FakeRpcClient (in-memory
test double; also what the HTTP client's tests serve from behind a
local http.server stub).
"""

from __future__ import annotations

import json as _json
import urllib.request
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..etl.schemas import BLOCK_SCHEMA, TXN_SCHEMA


class LandedBlockSource:
    """Blocks and transactions already landed on storage, as DataFrames
    (cli.py reads them with an explicit schema: no inference pass)."""

    PASS_LIMIT = None

    def __init__(self, blocks: DataFrame, txns: DataFrame):
        self.blocks = blocks
        self.txns = txns

    def tip(self) -> int | None:
        # E1: chain-tip probe (reference src/follower.rs:76).
        return self.blocks.agg(F.max("height")).collect()[0][0]

    def first(self) -> int | None:
        """E20: backfill boundary. The reference walks backward, hopping
        whole epochs via rewards_v2.start_epoch pointers, because its
        source only supports point lookups; landed files support
        aggregation, so the start is one min(height) aggregate (None
        when no block has landed yet).
        The literal walk stays as the parity reference
        (etl/pipeline.py backfill_epoch_walk)."""
        return self.blocks.agg(F.min("height")).collect()[0][0]

    def range(self, lo: int, hi: int) -> tuple[DataFrame, DataFrame]:
        # The height predicate prunes partitions at the source
        # (src/follower.rs:86's `h > self.height`, vectorized); the
        # transforms join the transactions the range's blocks name.
        return self.blocks.where(F.col("height").between(lo, hi)), self.txns


class RpcClient(Protocol):
    """The three calls the reference makes (helium-jsonrpc surface)."""

    def height(self) -> int: ...                       # blocks::height
    def get_block_raw(self, height: int) -> dict: ...  # blocks::get_raw
    def get_transaction(self, hash: str) -> dict: ...  # transactions::get


class RpcError(RuntimeError):
    """JSON-RPC failure (transport or error response) — the Jrpc arm of
    the reference's error enum (src/error.rs:5-15)."""


RPC_TIMEOUT_S = 30.0


class HttpRpcClient:
    """JSON-RPC 2.0 over HTTP with stdlib urllib only — the production
    implementation of RpcClient (reference src/follower.rs:26 builds the
    same client from settings.node_addr).

    Method names follow the public blockchain-node API surface the
    helium-jsonrpc crate calls: block_height / block_get /
    transaction_get. Results are accepted both bare and wrapped
    ({"height": N} vs N) since node versions differ.
    """

    def __init__(self, node_addr: str):
        self.url = node_addr if "://" in node_addr else f"http://{node_addr}"
        self.timeout = RPC_TIMEOUT_S
        self._next_id = 0

    def _call(self, method: str, params: dict | None = None):
        self._next_id += 1
        body: dict = {"jsonrpc": "2.0", "id": str(self._next_id), "method": method}
        if params is not None:
            body["params"] = params
        req = urllib.request.Request(
            self.url,
            data=_json.dumps(body).encode("utf-8"),
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                payload = _json.loads(resp.read().decode("utf-8"))
        except OSError as e:  # connection refused, timeout, HTTP error…
            raise RpcError(f"{method}: transport failure: {e}") from e
        if payload.get("error"):
            raise RpcError(f"{method}: {payload['error']}")
        if "result" not in payload:
            raise RpcError(f"{method}: malformed response (no result)")
        return payload["result"]

    def height(self) -> int:
        result = self._call("block_height")
        return int(result["height"] if isinstance(result, dict) else result)

    def get_block_raw(self, height: int) -> dict:
        return self._call("block_get", {"height": height})

    def get_transaction(self, hash: str) -> dict:
        return self._call("transaction_get", {"hash": hash})


class FakeRpcClient:
    """In-memory RpcClient test double (no network in this container)."""

    def __init__(self, blocks_by_height: dict[int, dict], txns_by_hash: dict[str, dict]):
        self._blocks = blocks_by_height
        self._txns = txns_by_hash

    def height(self) -> int:
        return max(self._blocks)

    def get_block_raw(self, height: int) -> dict:
        return self._blocks[height]

    def get_transaction(self, hash: str) -> dict:
        return self._txns[hash]


class RpcBlockSource:
    """Near-tip follower source over a live node: point RPCs on the
    driver, then DataFrames for the pipeline."""

    # Blocks fetched per pass when max_blocks_per_batch is unset: keeps
    # driver memory flat while catching up from far behind.
    PASS_LIMIT = 500

    def __init__(self, spark: SparkSession, client: RpcClient):
        self.spark = spark
        self.client = client

    def tip(self) -> int:
        return self.client.height()

    def first(self) -> int:
        """E20 against a live node: the literal backward epoch walk
        (reference src/follower.rs:144-194) — hop rewards_v2.start_epoch
        pointers from the tip; on a fetch failure outside the last epoch,
        re-enter at last_safe-1 and walk block-by-block; on a failure inside
        it, the last safe height is the oldest block the node holds."""
        height = self.client.height()
        last_safe = height
        in_last_epoch = False
        for _ in range(100_000):  # hop bound: never spin on a broken node
            try:
                block = self.client.get_block_raw(height)
            except Exception:
                if in_last_epoch:
                    return last_safe  # src/follower.rs:159
                in_last_epoch = True  # src/follower.rs:160-167
                height = last_safe - 1
                if height < 1:
                    return last_safe
                continue
            hop = None
            if not in_last_epoch:
                for t in block["transactions"]:
                    if t["type"] == "rewards_v2":
                        payload = self.client.get_transaction(t["hash"])
                        epoch = payload.get("start_epoch")
                        if epoch is not None:
                            hop = epoch if hop is None else min(hop, epoch)
            last_safe = height
            height = hop if hop is not None else height - 1  # src/follower.rs:176,189-190
            if height < 1:
                return last_safe
        return last_safe

    def range(self, lo: int, hi: int) -> tuple[DataFrame, DataFrame]:
        # One get_block_raw per height and one get_transaction per hash;
        # the N+1 txn fetches of the reference collapse into this pass.
        blocks, txns = [], {}
        for h in range(lo, hi + 1):
            b = self.client.get_block_raw(h)
            refs = [{"type": t["type"], "hash": t["hash"]} for t in b["transactions"]]
            blocks.append((b["height"], b["time"], b["hash"], refs))
            for t in refs:
                if t["hash"] not in txns:
                    payload = self.client.get_transaction(t["hash"])
                    txns[t["hash"]] = (t["hash"], t["type"], _json.dumps(payload))
        return (
            self.spark.createDataFrame(blocks, BLOCK_SCHEMA),
            self.spark.createDataFrame(list(txns.values()), TXN_SCHEMA),
        )
