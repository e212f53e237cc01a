"""Seeded, Helium-shaped chain generator with ground truth.

Blocks and transaction payloads are written with pyarrow in the
follower's source layout (`etl/schemas.py` BLOCK_SCHEMA / TXN_SCHEMA):
one parquet file per slice under `<root>/blocks` and `<root>/txns`, so
landing a follow slice is one new file in each directory.

The record shapes come from the program: the transaction type names
are ones `etl/schemas.py` lists, and the reward kinds extend
`etl/fixtures.py`'s four (`overages` without an account, `securities`
without a gateway) with three assumed ones. Every number below (epoch
length, rewards per epoch, key counts, Zipf exponent, transactions per
block, kind shares) is an assumption of this benchmark, not a measured
property of the Helium chain; no published chain statistics were at
hand. They are chosen to differ from `etl/fixtures.py` where the
follower's cost depends on them:
- one `rewards_v2` payload per epoch with hundreds to thousands of
  rewards (fixtures carry 3-12), so explode and the reward sink dominate
  the bulk load;
- accounts and gateways drawn from bounded Zipf distributions, so a few
  gateways earn most rewards and the top-k read is skewed;
- 0..MAX_PAYMENTS payments and a few PoC receipts per block, plus rare
  gateway-management transactions that the by-type read slices out.

`Chain` keeps the ground truth the benchmark checks outputs against:
reward rows and amount per block, every transaction by hash, and
per-gateway earnings.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# All values assumed (see the module docstring).
EPOCH_LEN = 30          # blocks per reward epoch; a follow slice is one epoch
MAX_PAYMENTS = 4        # payments per block are uniform on 0..MAX_PAYMENTS
MAX_POC = 3             # PoC receipts per block are uniform on 0..MAX_POC
RARE_RATE = 0.2         # share of blocks with one gateway-management transaction
N_ACCOUNTS = 20_000
N_GATEWAYS = 8_000
ZIPF_S = 1.1            # exponent of the bounded Zipf key distributions
REWARDS_PER_EPOCH = (300, 3000)  # uniform range of rewards per rewards_v2 payload
RARE_TYPES = ("add_gateway_v1", "assert_location_v2", "state_channel_close_v1")
# (reward type, share, account present, gateway present)
REWARD_KINDS = (
    ("poc_witnesses", 0.55, True, True),
    ("poc_challengees", 0.20, True, True),
    ("poc_challengers", 0.10, True, True),
    ("data_credits", 0.08, True, True),
    ("consensus", 0.03, True, False),
    ("securities", 0.03, True, False),
    ("overages", 0.01, False, True),
)

BLOCK_ARROW = pa.schema(
    [
        ("height", pa.int64()),
        ("time", pa.int64()),
        ("hash", pa.string()),
        (
            "transactions",
            pa.list_(pa.struct([("type", pa.string()), ("hash", pa.string())])),
        ),
    ]
)
TXN_ARROW = pa.schema([("hash", pa.string()), ("type", pa.string()), ("fields", pa.string())])


def _addresses(prefix: str, n: int) -> list[str]:
    # Helium base58 addresses are ~51 characters; 48 hex digits keep the
    # row width realistic.
    return ["1" + hashlib.blake2b(f"{prefix}{i}".encode(), digest_size=24).hexdigest() for i in range(n)]


def _zipf_p(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return p / p.sum()


@dataclass
class Txn:
    block: int
    type: str
    fields: str


@dataclass
class Chain:
    """A generated chain plus its ground truth. Heights run upward from
    `first_height`; `extend` appends blocks and writes them as one slice."""

    root: str
    seed: int
    first_height: int = 1_000_000
    tip: int = 0
    reward_rows: dict[int, int] = field(default_factory=dict)     # block -> rows
    reward_amount: dict[int, int] = field(default_factory=dict)   # block -> sum(amount)
    txns: dict[str, Txn] = field(default_factory=dict)            # hash -> payload
    txn_hashes: list[str] = field(default_factory=list)           # landing order
    txn_count: dict[int, int] = field(default_factory=dict)       # block -> txns
    by_type: dict[str, set[str]] = field(default_factory=dict)    # type -> hashes
    gateway_earned: dict[str, int] = field(default_factory=dict)
    gateway_rewards: dict[str, int] = field(default_factory=dict)

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed)
        self.accounts = _addresses("acct", N_ACCOUNTS)
        self.gateways = _addresses("gw", N_GATEWAYS)
        # Zipf rank -> key is a seeded permutation, so the hot keys differ by seed.
        self.acct_p = _zipf_p(N_ACCOUNTS)[self.rng.permutation(N_ACCOUNTS)]
        self.gw_p = _zipf_p(N_GATEWAYS)[self.rng.permutation(N_GATEWAYS)]
        self.tip = self.first_height - 1
        os.makedirs(os.path.join(self.root, "blocks"), exist_ok=True)
        os.makedirs(os.path.join(self.root, "txns"), exist_ok=True)

    @property
    def blocks_path(self) -> str:
        return os.path.join(self.root, "blocks")

    @property
    def txns_path(self) -> str:
        return os.path.join(self.root, "txns")

    def _txn_hash(self, h: int, i: int) -> str:
        return f"t{h:x}.{i}.{int(self.rng.integers(1 << 40)):010x}"

    def _rewards(self, h: int) -> tuple[list[dict], int, int]:
        rng = self.rng
        n = int(rng.integers(*REWARDS_PER_EPOCH, endpoint=True))
        kinds = rng.choice(len(REWARD_KINDS), size=n, p=[k[1] for k in REWARD_KINDS])
        accts = rng.choice(N_ACCOUNTS, size=n, p=self.acct_p)
        gws = rng.choice(N_GATEWAYS, size=n, p=self.gw_p)
        amounts = rng.integers(1, 5_000_000, size=n)
        rewards = []
        for k, a, g, amt in zip(kinds.tolist(), accts.tolist(), gws.tolist(), amounts.tolist()):
            name, _share, has_acct, has_gw = REWARD_KINDS[k]
            gw = self.gateways[g] if has_gw else None
            rewards.append(
                {
                    "account": self.accounts[a] if has_acct else None,
                    "gateway": gw,
                    "amount": amt,
                    "type": name,
                }
            )
            if gw is not None:
                self.gateway_earned[gw] = self.gateway_earned.get(gw, 0) + amt
                self.gateway_rewards[gw] = self.gateway_rewards.get(gw, 0) + 1
        return rewards, n, int(amounts.sum())

    def _block(self, h: int) -> tuple[tuple, list[tuple]]:
        rng = self.rng
        envelopes: list[dict] = []
        rows: list[tuple] = []

        def add(ttype: str, payload: dict) -> None:
            th = self._txn_hash(h, len(envelopes))
            fields = json.dumps(payload, separators=(",", ":"))
            envelopes.append({"type": ttype, "hash": th})
            rows.append((th, ttype, fields))
            self.txns[th] = Txn(h, ttype, fields)
            self.txn_hashes.append(th)
            self.by_type.setdefault(ttype, set()).add(th)

        for _ in range(int(rng.integers(0, MAX_PAYMENTS, endpoint=True))):
            payer, payee = rng.choice(N_ACCOUNTS, size=2, p=self.acct_p).tolist()
            add(
                "payment_v2",
                {
                    "payer": self.accounts[payer],
                    "payments": [{"payee": self.accounts[payee], "amount": int(rng.integers(1, 10**9))}],
                    "fee": 35000,
                    "nonce": int(rng.integers(1, 10**6)),
                },
            )
        for _ in range(int(rng.integers(0, MAX_POC, endpoint=True))):
            g = int(rng.choice(N_GATEWAYS, p=self.gw_p))
            add("poc_receipts_v1", {"challenger": self.gateways[g], "onion_key_hash": f"{int(rng.integers(1 << 62)):x}"})
        if rng.random() < RARE_RATE:
            ttype = RARE_TYPES[int(rng.integers(len(RARE_TYPES)))]
            g = int(rng.integers(N_GATEWAYS))
            add(ttype, {"gateway": self.gateways[g], "owner": self.accounts[int(rng.integers(N_ACCOUNTS))]})
        n_rows = amount = 0
        if h % EPOCH_LEN == 0:
            rewards, n_rows, amount = self._rewards(h)
            add("rewards_v2", {"start_epoch": h - EPOCH_LEN, "end_epoch": h - 1, "rewards": rewards})
        self.reward_rows[h] = n_rows
        self.txn_count[h] = len(envelopes)
        self.reward_amount[h] = amount
        block_hash = hashlib.blake2b(f"{self.seed}:{h}".encode(), digest_size=16).hexdigest()
        return (h, 1_600_000_000 + 60 * h, block_hash, envelopes), rows

    def extend(self, n_blocks: int) -> tuple[int, int]:
        """Generate blocks (tip, tip + n_blocks] and write them as one
        slice, first to hidden `.tmp` names and then renamed into place,
        so a reader listing the directory never sees a partial file.
        Returns (lo, hi) of the slice."""
        lo, hi = self.tip + 1, self.tip + n_blocks
        blocks, txns = [], []
        for h in range(lo, hi + 1):
            b, t = self._block(h)
            blocks.append(b)
            txns.extend(t)
        self.tip = hi
        btab = pa.table(list(zip(*blocks)), schema=BLOCK_ARROW)
        ttab = pa.table(list(zip(*txns)), schema=TXN_ARROW)
        name = f"part-{lo:012d}.parquet"
        for tab, d in ((btab, self.blocks_path), (ttab, self.txns_path)):
            tmp = os.path.join(d, "." + name + ".tmp")
            pq.write_table(tab, tmp)
            os.replace(tmp, os.path.join(d, name))
        return lo, hi

    def rewards_in_range(self, lo: int, hi: int) -> list[tuple[int, int, int]]:
        """Expected `rewards_in_block_range` answer: (block, total, rows)."""
        return [
            (h, self.reward_amount[h], self.reward_rows[h])
            for h in range(lo, hi + 1)
            if self.reward_rows.get(h)
        ]

    def gateway_topk(self, k: int) -> list[tuple[str, int, int]]:
        top = sorted(self.gateway_earned.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return [(g, e, self.gateway_rewards[g]) for g, e in top]

    def rows_in_range(self, lo: int, hi: int) -> tuple[int, int]:
        """(reward rows, transactions) of blocks lo..hi."""
        return (
            sum(self.reward_rows.get(h, 0) for h in range(lo, hi + 1)),
            sum(self.txn_count.get(h, 0) for h in range(lo, hi + 1)),
        )
