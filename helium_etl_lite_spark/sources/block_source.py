"""Block/transaction sources (SURVEY §2.1 E1-E3): what the follower
follows.

The reference pulls blocks over JSON-RPC: a tip probe
(src/follower.rs:76), a raw-block fetch per height
(src/block_processor.rs:29) and an N+1 typed-txn fetch per hash
(:58, :130). A source here answers the questions the follower's one
catch-up loop asks (etl/pipeline.py IncrementalFollower), so landed
files and a live node run through the same loop:

  tip()          the newest height (None when there is no block)
  first()        the backfill start (reference get_first_block,
                 src/follower.rs:144-194; None when there is no block)
  range(lo, hi)  the (blocks, txns) Arrow tables of one pass over
                 [lo, hi]: the pass's blocks and the payload rows of the
                 hashes they name (etl/schemas.py BLOCK_ARROW, TXN_ARROW)

The follower asks range() for at most etl/pipeline.py PASS_LIMIT
blocks, and a source holds no more than that pass in driver memory.

Two implementations:

- LandedBlockSource: block and transaction files landed as parquet or
  JSON-lines. The files are listed once per source, skipping `_`- and
  `.`-prefixed names as Spark's reader does. With no Spark job:
  tip() and first() read the parquet footers' `height` statistics, and
  the column itself only where a row group has none; range() reads
  only the row groups whose statistics can hold the pass's heights and
  hashes. A JSON-lines file has no statistics: its height bounds are
  parsed once per source, and a pass parses every transaction file,
  keeping only the rows of its hashes.
- RpcBlockSource: driver-side point fetches over an RpcClient — the
  literal reference topology, for near-tip following where only a
  handful of new blocks exist per tick. A pass fetches each block and
  each transaction once into Arrow tables.

RpcClient is a protocol with two implementations: HttpRpcClient (a
stdlib-urllib JSON-RPC 2.0 client speaking the blockchain-node API the
reference's helium-jsonrpc crate wraps) and FakeRpcClient (in-memory
test double; also what the HTTP client's tests serve from behind a
local http.server stub).
"""

from __future__ import annotations

import bisect
import glob
import json as _json
import os
import urllib.request
from typing import Protocol

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.json as pj
import pyarrow.parquet as pq

from ..etl.schemas import BLOCK_ARROW, TXN_ARROW


def _landed_files(path: str) -> list[str]:
    """The files Spark's reader reads at `path` (a file, a directory or
    a glob): every file under it, skipping `_`- and `.`-prefixed names
    (`_SUCCESS`, `.crc` checksums, files still being landed under a
    hidden name). Raises FileNotFoundError when nothing matches `path`,
    as Spark does."""
    matches = sorted(glob.glob(path))
    if not matches:
        raise FileNotFoundError(f"no landed files at {path}")
    files = []
    for m in matches:
        if os.path.isfile(m):
            files.append(m)
            continue
        for root, dirs, names in os.walk(m):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            files += [os.path.join(root, n) for n in sorted(names) if not n.startswith(("_", "."))]
    return files


class _LandedTable:
    """One landed table read with pyarrow, in chunks: a parquet row
    group, or a whole JSON-lines file. The file list, the parquet
    footers and the chunks' bounds are read once per instance; rows are
    read per call and not kept."""

    def __init__(self, path: str, schema: pa.Schema, as_json: bool):
        self.schema, self.as_json = schema, as_json
        self.files = _landed_files(path)
        self._footers: dict[str, pq.FileMetaData] = {}
        self._bounds: dict[str, list] = {}

    def _footer(self, f: str) -> pq.FileMetaData:
        if f not in self._footers:
            self._footers[f] = pq.read_metadata(f)
        return self._footers[f]

    def chunks(self) -> list[tuple[str, int | None]]:
        if self.as_json:
            return [(f, None) for f in self.files]
        return [
            (f, rg) for f in self.files
            for rg in range(self._footer(f).num_row_groups) if self._footer(f).row_group(rg).num_rows
        ]

    def read(self, chunk: tuple[str, int | None], columns: list[str] | None = None) -> pa.Table:
        f, rg = chunk
        names = columns or self.schema.names
        if rg is None:
            opts = pj.ParseOptions(explicit_schema=self.schema, unexpected_field_behavior="ignore")
            t = pj.read_json(f, parse_options=opts)
        else:
            with pq.ParquetFile(f) as pf:
                t = pf.read_row_group(rg, columns=names)
        return t.select(names).cast(pa.schema([self.schema.field(n) for n in names]))

    def stats(self, chunk: tuple[str, int | None], column: str) -> tuple | None:
        """(min, max) of `column` in `chunk` from the parquet footer, or
        None when the footer has no statistics for it."""
        f, rg = chunk
        if rg is None:
            return None
        meta = self._footer(f).row_group(rg)
        for i in range(meta.num_columns):
            if meta.column(i).path_in_schema == column:
                st = meta.column(i).statistics
                return (st.min, st.max) if st is not None and st.has_min_max else None
        return None

    def bounds(self, column: str) -> list[tuple[tuple, object, object]]:
        """(chunk, min, max) of `column` for every chunk holding a
        non-null value: the footer's statistics, else the column
        itself."""
        if column not in self._bounds:
            out = []
            for chunk in self.chunks():
                mm = self.stats(chunk, column)
                if mm is None:
                    v = pc.min_max(self.read(chunk, [column])[column])
                    mm = (v["min"].as_py(), v["max"].as_py())
                if mm[0] is not None:
                    out.append((chunk, *mm))
            self._bounds[column] = out
        return self._bounds[column]

    def rows_with(self, column: str, values: list) -> pa.Table:
        """The rows whose `column` is in `values`: a chunk whose
        statistics rule every value out is not read, a parquet row group
        is read whole only when its `column` holds a match, and only the
        matching rows are kept."""
        wanted = sorted(set(values))
        value_set = pa.array(wanted, type=self.schema.field(column).type)
        parts = [self.schema.empty_table()]
        for chunk in self.chunks():
            mm = self.stats(chunk, column)
            if mm is not None:
                i = bisect.bisect_left(wanted, mm[0])
                if i == len(wanted) or wanted[i] > mm[1]:
                    continue
            if self.as_json:
                t = self.read(chunk)
                parts.append(t.filter(pc.is_in(t[column], value_set=value_set)))
                continue
            mask = pc.is_in(self.read(chunk, [column])[column], value_set=value_set)
            if pc.any(mask).as_py():
                parts.append(self.read(chunk).filter(mask))
        return pa.concat_tables(parts)


class LandedBlockSource:
    """Blocks and transactions landed as parquet or JSON-lines files
    (`as_json`); see the module docstring."""

    def __init__(self, blocks_path: str, txns_path: str, as_json: bool):
        self.blocks = _LandedTable(blocks_path, BLOCK_ARROW, as_json)
        self.txns = _LandedTable(txns_path, TXN_ARROW, as_json)

    def tip(self) -> int | None:
        # E1: chain-tip probe (reference src/follower.rs:76).
        return max((hi for _, _, hi in self.blocks.bounds("height")), default=None)

    def first(self) -> int | None:
        """E20: backfill boundary. The reference walks backward, hopping
        whole epochs via rewards_v2.start_epoch pointers, because its
        source only supports point lookups; landed files carry height
        statistics, so the start is the least of them (None when no
        block has landed yet).
        The literal walk stays as the parity reference
        (etl/pipeline.py backfill_epoch_walk)."""
        return min((lo for _, lo, _ in self.blocks.bounds("height")), default=None)

    def range(self, lo: int, hi: int) -> tuple[pa.Table, pa.Table]:
        in_pass = (pc.field("height") >= lo) & (pc.field("height") <= hi)
        blocks = pa.concat_tables([self.blocks.schema.empty_table()] + [
            self.blocks.read(chunk).filter(in_pass)
            for chunk, b_lo, b_hi in self.blocks.bounds("height")
            if b_lo <= hi and b_hi >= lo
        ])
        refs = pc.list_flatten(blocks["transactions"])
        hashes = pc.struct_field(refs, "hash").drop_null().to_pylist() if len(refs) else []
        return blocks, self.txns.rows_with("hash", hashes)


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
    driver into Arrow tables for the follower's pass."""

    def __init__(self, client: RpcClient):
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

    def range(self, lo: int, hi: int) -> tuple[pa.Table, pa.Table]:
        # One get_block_raw per height and one get_transaction per hash;
        # the N+1 txn fetches of the reference collapse into this pass.
        # A failed fetch raises here, before anything is committed.
        blocks, txns = [], {}
        for h in range(lo, hi + 1):
            b = self.client.get_block_raw(h)
            refs = [{"type": t["type"], "hash": t["hash"]} for t in b["transactions"]]
            blocks.append({"height": b["height"], "time": b["time"], "hash": b["hash"], "transactions": refs})
            for t in refs:
                if t["hash"] not in txns:
                    payload = self.client.get_transaction(t["hash"])
                    txns[t["hash"]] = {"hash": t["hash"], "type": t["type"], "fields": _json.dumps(payload)}
        return (
            pa.Table.from_pylist(blocks, schema=BLOCK_ARROW),
            pa.Table.from_pylist(list(txns.values()), schema=TXN_ARROW),
        )
