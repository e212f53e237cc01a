"""Data model of the reference pipeline (SURVEY §1, FIXTURES.md §A).

Spark StructTypes for the block/txn sources and the output tables the
reference's migrations declare (reference migrations/V1-V5), and their
Arrow twins for the driver pass (etl/arrow_transforms.py). An Arrow
twin has the same names and types with every field nullable: a landed
file may declare any nullability, and Spark reads a file source as
nullable too."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

# The 34-label transaction_type enum:
# reference migrations/V3__create_transactions.sql:2-34 (33 labels)
# + migrations/V5__add_transfer_hotspot_v2.sql:1.
TXN_TYPES = [
    "coinbase_v1",
    "security_coinbase_v1",
    "oui_v1",
    "gen_gateway_v1",
    "routing_v1",
    "payment_v1",
    "security_exchange_v1",
    "consensus_group_v1",
    "add_gateway_v1",
    "assert_location_v1",
    "create_htlc_v1",
    "redeem_htlc_v1",
    "poc_request_v1",
    "poc_receipts_v1",
    "vars_v1",
    "rewards_v1",
    "token_burn_v1",
    "dc_coinbase_v1",
    "token_burn_exchange_rate_v1",
    "payment_v2",
    "state_channel_open_v1",
    "state_channel_close_v1",
    "price_oracle_v1",
    "transfer_hotspot_v1",
    "rewards_v2",
    "assert_location_v2",
    "gen_validator_v1",
    "stake_validator_v1",
    "unstake_validator_v1",
    "validator_heartbeat_v1",
    "transfer_validator_stake_v1",
    "gen_price_oracle_v1",
    "consensus_group_failure_v1",
    "transfer_hotspot_v2",
]

# filter_type enum — reference migrations/V4__create_filters.sql:1-4.
FILTER_TYPES = ["gateway", "account"]

# "the hash for null" — reference README.md:111, src/reward.rs:22-33.
SENTINEL = "1Wh4bh"

# BlockRaw { height, time, hash, transactions: [{type, hash}] }
# — reference src/block_processor.rs:50-56, src/follower.rs:169-170.
BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("height", T.LongType(), False),
        T.StructField("time", T.LongType(), False),
        T.StructField("hash", T.StringType(), False),
        T.StructField(
            "transactions",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("type", T.StringType(), False),
                        T.StructField("hash", T.StringType(), False),
                    ]
                )
            ),
            False,
        ),
    ]
)

# Typed txn payloads fetched per hash (reference src/block_processor.rs:58,130);
# `fields` is the serialized whole transaction (src/transaction.rs:22).
TXN_SCHEMA = T.StructType(
    [
        T.StructField("hash", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("fields", T.StringType(), False),
    ]
)

# Open-schema rewards_v2 payload: {start_epoch, end_epoch, rewards: [...]}
# — reference src/follower.rs:176, src/block_processor.rs:60.
REWARDS_V2_FIELDS_SCHEMA = T.StructType(
    [
        T.StructField("start_epoch", T.LongType(), True),
        T.StructField("end_epoch", T.LongType(), True),
        T.StructField(
            "rewards",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("account", T.StringType(), True),
                        T.StructField("gateway", T.StringType(), True),
                        T.StructField("amount", T.LongType(), True),
                        T.StructField("type", T.StringType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)

# rewards output — reference migrations/V1__create_rewards.sql:1-9.
REWARDS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("block", T.LongType(), False),
        T.StructField("transaction_hash", T.StringType(), False),
        T.StructField("time", T.LongType(), False),
        T.StructField("account", T.StringType(), False),
        T.StructField("gateway", T.StringType(), False),
        T.StructField("amount", T.LongType(), False),
        T.StructField("type", T.StringType(), False),
    ]
)

# transactions output — reference migrations/V3:37-44.
TRANSACTIONS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("block", T.LongType(), False),
        T.StructField("hash", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("fields", T.StringType(), False),
    ]
)

# filters control table — reference migrations/V4:6-10.
FILTERS_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType(), False),
        T.StructField("value", T.StringType(), False),
    ]
)

# follower_info cursor — reference migrations/V2__create_follower_info.sql:1-4.
FOLLOWER_INFO_SCHEMA = T.StructType(
    [
        T.StructField("height", T.LongType(), False),
        T.StructField("first_block", T.LongType(), False),
    ]
)


# Arrow twins (see the module docstring).
BLOCK_ARROW = pa.schema(
    [
        ("height", pa.int64()),
        ("time", pa.int64()),
        ("hash", pa.string()),
        ("transactions", pa.list_(pa.struct([("type", pa.string()), ("hash", pa.string())]))),
    ]
)
TXN_ARROW = pa.schema([("hash", pa.string()), ("type", pa.string()), ("fields", pa.string())])
FILTERS_ARROW = pa.schema([("type", pa.string()), ("value", pa.string())])
REWARDS_ARROW = pa.schema(
    [
        ("block", pa.int64()),
        ("transaction_hash", pa.string()),
        ("time", pa.int64()),
        ("account", pa.string()),
        ("gateway", pa.string()),
        ("amount", pa.int64()),
        ("type", pa.string()),
    ]
)
TRANSACTIONS_ARROW = pa.schema(
    [("block", pa.int64()), ("hash", pa.string()), ("type", pa.string()), ("fields", pa.string())]
)
