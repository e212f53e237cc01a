"""The transforms of etl/transforms.py on Arrow tables, for the
follower's pass: a pass is short enough to hold in driver memory
(etl/pipeline.py PASS_LIMIT), so it runs them in-process with no Spark
job.
`build_outputs` stays the reference they are tested against
(tests/test_driver_pass.py): the same rows in all three modes, and the
same fail-stop errors.

Envelopes explode and validate as Arrow columns. Payloads are parsed
with the stdlib JSON decoder, made to read a payload as Spark's
`from_json` with REWARDS_V2_FIELDS_SCHEMA does:
- an empty or blank payload is a missing one (from_json gives NULL);
- a payload that does not parse, is not an object, or whose `rewards`
  is not an array of objects and nulls gives no reward rows;
- text after the first complete value is ignored;
- a string field given another JSON value holds that value's JSON text
  (numbers as Java prints a double), and `amount` holds only an
  integer in the long range, else NULL.
Jackson options the stdlib decoder lacks (single-quoted strings) make a
payload malformed here, and one that parses under Spark.
"""

from __future__ import annotations

import json
import math
from decimal import Decimal

import pyarrow as pa
import pyarrow.compute as pc

from .schemas import REWARDS_ARROW, SENTINEL, TRANSACTIONS_ARROW, TXN_TYPES
from .transforms import MODES

_DECODER = json.JSONDecoder()
_JSON_BLANK = " \t\r\n"
_LONG = (-(2**63), 2**63 - 1)


def _java_double(x: float) -> str:
    """`x` as Java's Double.toString prints it, which Jackson writes."""
    if math.isnan(x) or math.isinf(x):
        return '"NaN"' if math.isnan(x) else ('"Infinity"' if x > 0 else '"-Infinity"')
    if x == 0 or 1e-3 <= abs(x) < 1e7:
        return repr(x)
    sign, digits, exp = Decimal(repr(x)).as_tuple()
    d = "".join(map(str, digits))
    mantissa = d[0] + "." + (d[1:].rstrip("0") or "0")
    return f"{'-' if sign else ''}{mantissa}E{len(digits) + exp - 1}"


def _json_text(v) -> str:
    """A parsed JSON value as Jackson writes it back: compact."""
    if isinstance(v, bool) or v is None:
        return json.dumps(v)
    if isinstance(v, float):
        return _java_double(v)
    if isinstance(v, list):
        return "[" + ",".join(map(_json_text, v)) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            json.dumps(k, ensure_ascii=False) + ":" + _json_text(x) for k, x in v.items()
        ) + "}"
    return json.dumps(v, ensure_ascii=False)


def _string(v) -> str | None:
    return v if v is None or isinstance(v, str) else _json_text(v)


def _long(v) -> int | None:
    return v if type(v) is int and _LONG[0] <= v <= _LONG[1] else None


def _rewards(fields: str) -> list | None:
    """The `rewards` array of a payload that is not blank (see the
    module docstring), or None."""
    try:
        doc, _ = _DECODER.raw_decode(fields, len(fields) - len(fields.lstrip(_JSON_BLANK)))
    except (ValueError, RecursionError):
        return None
    rewards = doc.get("rewards") if isinstance(doc, dict) else None
    if not isinstance(rewards, list) or not all(r is None or isinstance(r, dict) for r in rewards):
        return None
    return rewards


def _envelopes(blocks: pa.Table) -> dict[str, list]:
    """One entry per (block, txn envelope), validated: the
    explode_envelopes + validate_txn_types of etl/transforms.py."""
    refs = blocks["transactions"].combine_chunks()
    parents = pc.list_parent_indices(refs)
    flat = pc.list_flatten(refs)
    env = {
        "block": pc.take(blocks["height"], parents).to_pylist(),
        "time": pc.take(blocks["time"], parents).to_pylist(),
        "block_hash": pc.take(blocks["hash"], parents).to_pylist(),
        "txn_type": pc.struct_field(flat, "type").to_pylist(),
        "txn_hash": pc.struct_field(flat, "hash").to_pylist(),
    }
    known = set(TXN_TYPES)
    for t in env["txn_type"]:
        if t not in known:
            raise ValueError(f"unknown transaction type: {t}")
    return env


def _rewards_rows(env: dict[str, list], payloads: dict[str, list]) -> dict[str, list]:
    """E4-E8: the rewards of every rewards_v2 envelope, exploded and
    projected as extract_rewards does, failing on a missing payload."""
    cols: dict[str, list] = {name: [] for name in REWARDS_ARROW.names}
    for block, time, block_hash, ttype, thash in zip(*env.values()):
        if ttype != "rewards_v2":
            continue
        for fields in payloads.get(thash, [None]):
            if fields is None or not fields.strip(_JSON_BLANK):
                raise ValueError(f"missing rewards_v2 payload for txn {thash}")
            for r in _rewards(fields) or ():
                r = r or {}
                account, gateway = _string(r.get("account")), _string(r.get("gateway"))
                cols["block"].append(block)
                cols["transaction_hash"].append(block_hash)
                cols["time"].append(time)
                cols["account"].append(SENTINEL if account is None else account)
                cols["gateway"].append(SENTINEL if gateway is None else gateway)
                cols["amount"].append(_long(r.get("amount")))
                cols["type"].append(_string(r.get("type")))
    return cols


def _semi_join_filters(rewards: pa.Table, filters: pa.Table) -> pa.Table:
    """E11: keep a reward once when its account or its gateway is a
    filter value of that type, as semi_join_filters does."""
    def values(kind: str) -> pa.Array:
        return filters.filter(pc.field("type") == kind)["value"].drop_null().combine_chunks()

    def matches(kind: str):
        return pc.and_(
            pc.is_in(rewards[kind], value_set=values(kind)), pc.not_equal(rewards[kind], SENTINEL)
        )

    return rewards.filter(pc.or_(matches("account"), matches("gateway")))


def dedup_transactions(txns: pa.Table) -> pa.Table:
    """One row per hash (PK(hash), migrations/V3:43): the row of the
    lowest block, ties broken by type and then by fields, the rule
    etl/transforms.py dedup_transactions applies on DataFrames."""
    if txns.num_rows == 0:
        return txns
    order = txns.sort_by([(c, "ascending") for c in ("hash", "block", "type", "fields")])
    h = order["hash"].combine_chunks()
    first = pa.concat_arrays([pa.array([True]), pc.not_equal(h[1:], h[:-1])])
    return order.filter(first)


def build_outputs_arrow(
    mode: str, blocks: pa.Table, txns: pa.Table, filters: pa.Table | None = None
) -> dict[str, pa.Table]:
    """E13 on Arrow: build_outputs's tables for one pass. `txns` needs to
    hold only the payload rows of the hashes `blocks` name."""
    if mode not in MODES:
        raise ValueError(f"unknown mode {mode!r}; expected one of {MODES}")
    if mode == "filters" and filters is None:
        raise ValueError("filters mode requires the filters table")
    env = _envelopes(blocks)
    payloads: dict[str, list] = {}
    for h, fields in zip(txns["hash"].to_pylist(), txns["fields"].to_pylist()):
        payloads.setdefault(h, []).append(fields)
    rewards = pa.table(_rewards_rows(env, payloads), schema=REWARDS_ARROW)
    out = {"rewards": _semi_join_filters(rewards, filters) if mode == "filters" else rewards}
    if mode == "full":
        # E10+E15: every envelope with its payload, failing on a missing one
        rows: dict[str, list] = {name: [] for name in TRANSACTIONS_ARROW.names}
        for block, ttype, thash in zip(env["block"], env["txn_type"], env["txn_hash"]):
            for fields in payloads.get(thash, [None]):
                if fields is None:
                    raise ValueError(f"missing payload for txn {thash}")
                rows["block"].append(block)
                rows["hash"].append(thash)
                rows["type"].append(ttype)
                rows["fields"].append(fields)
        out["transactions"] = dedup_transactions(pa.table(rows, schema=TRANSACTIONS_ARROW))
    return out
