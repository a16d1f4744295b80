"""Seeded generator for the ledger_ingest workload.

It writes NDJSON the way the reference's export pods do: one file per table
per 10-minute batch, named `<start_ledger>-<end_ledger>-<table>.txt`. The
tables are `history_ledgers` (the spine), `history_trades` (the history
rows) and `accounts` (ledger-entry changes to the account state).

Why each input property has the value it has:

* LEDGERS_PER_BATCH = 120: a 10-minute batch at Stellar's ~5 s ledger close.
* TRADES_PER_BATCH and CHANGES_PER_BATCH: a full Stellar-shaped batch has
  ~50k history rows and ~20k account changes. Both are scaled down 10x,
  keeping their 5:2 ratio: a warm batch still takes ~5 s on 4 cores, most
  of it per-job overhead, and generating full-size batches in every run
  would not fit the benchmark's time budget.
* N_ACCOUNTS = 20000: the state table the changes merge into. It is 10x the
  changes per batch, as a full-size batch's 200k vs 20k, so most of the state is
  rewritten-but-unchanged and the merge cost is the partition rewrite.
* ZIPF_S = 1.1: real account activity is heavy-tailed; a few hot accounts
  change in most ledgers. That makes several changes per account per batch,
  which the state merge must collapse to the latest one.
* DELETE_FRAC = 0.01: account merges remove entries; the merge must apply
  tombstones and later re-creations.
* Batch 1 is loaded a second time at the end (`LedgerIngest.ReplayBatch`),
  like an Airflow retry; the del-ins load must leave every table unchanged.
"""
import os

import numpy as np

LEDGERS_PER_BATCH = 120
TRADES_PER_BATCH = 5000
CHANGES_PER_BATCH = 2000
N_ACCOUNTS = 20000
N_ASSETS = 40
ZIPF_S = 1.1
DELETE_FRAC = 0.01

GENESIS_LEDGER = 50_000_000
GENESIS_EPOCH_S = 1_767_225_600  # 2026-01-01T00:00:00Z
CLOSE_S = 5
BASE32 = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"))


def _zipf_weights(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class Ledger:
    """The generator's own view of the chain: account ids, asset codes and
    the latest row of every account, computed without Spark."""

    def __init__(self, seed):
        rng = np.random.default_rng([seed, 2])
        self.seed = seed
        self.accounts = ["G" + "".join(r) for r in BASE32[rng.integers(0, 32, (N_ACCOUNTS, 55))]]
        self.assets = ["XLM"] + ["".join(r) for r in BASE32[rng.integers(0, 26, (N_ASSETS - 1, 4))]]
        self.issuers = ["" if i == 0 else self.accounts[int(rng.integers(N_ACCOUNTS))]
                        for i in range(N_ASSETS)]
        # hot accounts are a seeded permutation, so the skew does not follow id order
        self.hot = rng.permutation(N_ACCOUNTS)
        self.w_acc = _zipf_weights(N_ACCOUNTS, ZIPF_S)
        self.w_asset = _zipf_weights(N_ASSETS, ZIPF_S)
        self.latest = {}
        self.seq = {}
        self.iso = {}
        # (account, row or None for a removal) per batch, genesis first
        self.applied = []

    # ledger b=-1 is genesis: it creates every account once
    def batch_ledgers(self, b):
        first = GENESIS_LEDGER + (b + 1) * LEDGERS_PER_BATCH
        return first, first + LEDGERS_PER_BATCH - 1

    def window(self, b):
        start = GENESIS_EPOCH_S + (b + 1) * LEDGERS_PER_BATCH * CLOSE_S
        return start, start + LEDGERS_PER_BATCH * CLOSE_S

    def _iso(self, seq):
        """Close time of ledger `seq`, as NDJSON writes TIMESTAMP values."""
        s = self.iso.get(seq)
        if s is None:
            epoch = GENESIS_EPOCH_S + (seq - GENESIS_LEDGER) * CLOSE_S
            s = self.iso[seq] = np.datetime_as_string(np.datetime64(epoch, "s")) + "Z"
        return s

    def _ledger_rows(self, rng, first, last):
        rows = []
        all_txs = rng.integers(50, 300, last - first + 1).tolist()
        all_failed = rng.integers(0, 30, last - first + 1).tolist()
        for seq, txs, failed in zip(range(first, last + 1), all_txs, all_failed):
            rows.append(
                f'{{"sequence":{seq},"ledger_hash":"{seq:064x}","previous_ledger_hash":"{seq - 1:064x}",'
                f'"transaction_count":{txs},"operation_count":{txs * 3},'
                f'"successful_transaction_count":{txs - failed},"failed_transaction_count":{failed},'
                f'"closed_at":"{self._iso(seq)}","total_coins":{10**18 + seq},'
                f'"fee_pool":{seq * 7},"base_fee":100,"base_reserve":5000000,"protocol_version":23}}')
        return rows

    def _account_rows(self, rng, idx, seqs, changes):
        """NDJSON rows for changes (account idx, ledger seq, change type),
        applied in order to the generator's latest-row map."""
        n = len(idx)
        balance = np.round(rng.exponential(5000.0, n), 7).tolist()
        buying = np.round(rng.exponential(10.0, n), 7).tolist()
        selling = np.round(rng.exponential(10.0, n), 7).tolist()
        subentries = rng.integers(0, 20, n).tolist()
        flags = rng.integers(0, 8, n).tolist()
        start_seq = rng.integers(10**9, 10**10, n).tolist()
        lines = []
        applied = []
        self.applied.append(applied)
        for k in range(n):
            i, seq, change = idx[k], seqs[k], changes[k]
            acc = self.accounts[i]
            deleted = change == 2
            self.seq[i] = self.seq.get(i, start_seq[k]) + 1
            row = {
                "balance": balance[k], "buying_liabilities": buying[k],
                "selling_liabilities": selling[k], "sequence_number": self.seq[i],
                "num_subentries": subentries[k], "flags": flags[k],
                "home_domain": f"d{i % 97}.example", "master_weight": 1,
                "threshold_low": 0, "threshold_medium": 0, "threshold_high": 0,
                "last_modified_ledger": seq, "ledger_entry_change": change,
                "deleted": deleted,
            }
            lines.append(
                f'{{"account_id":"{acc}","balance":{balance[k]},'
                f'"buying_liabilities":{buying[k]},"selling_liabilities":{selling[k]},'
                f'"sequence_number":{self.seq[i]},"num_subentries":{subentries[k]},'
                f'"flags":{flags[k]},"home_domain":"{row["home_domain"]}","master_weight":1,'
                f'"threshold_low":0,"threshold_medium":0,"threshold_high":0,'
                f'"last_modified_ledger":{seq},"ledger_entry_change":{change},'
                f'"deleted":{"true" if deleted else "false"},"closed_at":"{self._iso(seq)}"}}')
            if deleted:
                self.latest.pop(acc, None)
            else:
                self.latest[acc] = row
            applied.append((acc, None if deleted else row))
        return lines

    def genesis(self):
        """Bootstrap batch: the ledgers and one creation row per account."""
        rng = np.random.default_rng([self.seed, 3])
        first, last = self.batch_ledgers(-1)
        seqs = rng.integers(first, last + 1, N_ACCOUNTS).tolist()
        accounts = self._account_rows(rng, range(N_ACCOUNTS), seqs, [0] * N_ACCOUNTS)
        return {"history_ledgers": self._ledger_rows(rng, first, last),
                "history_trades": [], "accounts": accounts}

    def batch(self, b):
        """Batch b >= 0. Must be called in order: it advances account state."""
        rng = np.random.default_rng([self.seed, 4, b])
        first, last = self.batch_ledgers(b)
        per_ledger = CHANGES_PER_BATCH // LEDGERS_PER_BATCH
        idx, seqs, changes = [], [], []
        for seq in range(first, last + 1):
            # one change per account per ledger keeps (account, ledger) unique
            picks = self.hot[rng.choice(N_ACCOUNTS, per_ledger, replace=False, p=self.w_acc)]
            idx += picks.tolist()
            seqs += [seq] * per_ledger
        # the change type follows the account's life: created when absent,
        # removed with DELETE_FRAC, updated otherwise
        removes = (rng.random(len(idx)) < DELETE_FRAC).tolist()
        live = {i for i in idx if self.accounts[i] in self.latest}
        for k, i in enumerate(idx):
            if i not in live:
                changes.append(0)
                live.add(i)
            elif removes[k]:
                changes.append(2)
                live.discard(i)
            else:
                changes.append(1)
        accounts = self._account_rows(rng, idx, seqs, changes)
        n = TRADES_PER_BATCH
        seqs = np.sort(rng.integers(first, last + 1, n)).tolist()
        sellers = self.hot[rng.choice(N_ACCOUNTS, n, p=self.w_acc)].tolist()
        buyers = self.hot[rng.choice(N_ACCOUNTS, n, p=self.w_acc)].tolist()
        sell_a = rng.choice(N_ASSETS, n, p=self.w_asset)
        buy_a = ((sell_a + 1 + rng.integers(0, N_ASSETS - 1, n)) % N_ASSETS).tolist()
        sell_a = sell_a.tolist()
        amounts = np.round(rng.exponential(1000.0, n), 7)
        price_n = rng.integers(1, 10_000, n)
        price_d = rng.integers(1, 10_000, n)
        bought = np.round(amounts * price_n / price_d, 7).tolist()
        amounts, price_n, price_d = amounts.tolist(), price_n.tolist(), price_d.tolist()
        trade_type = np.where(rng.random(n) < 0.2, 2, 1).tolist()
        trades = []
        for k in range(n):
            seq, sa, ba = seqs[k], sell_a[k], buy_a[k]
            op_id = seq * 10_000 + k
            trades.append(
                f'{{"history_operation_id":{op_id},"order":0,'
                f'"ledger_closed_at":"{self._iso(seq)}",'
                f'"selling_account_address":"{self.accounts[sellers[k]]}",'
                f'"selling_asset_code":"{self.assets[sa]}","selling_asset_issuer":"{self.issuers[sa]}",'
                f'"selling_asset_type":"{"native" if sa == 0 else "credit_alphanum4"}",'
                f'"selling_asset_id":{sa},"selling_amount":{amounts[k]},'
                f'"buying_account_address":"{self.accounts[buyers[k]]}",'
                f'"buying_asset_code":"{self.assets[ba]}","buying_asset_issuer":"{self.issuers[ba]}",'
                f'"buying_asset_type":"{"native" if ba == 0 else "credit_alphanum4"}",'
                f'"buying_asset_id":{ba},"buying_amount":{bought[k]},'
                f'"price_n":{price_n[k]},"price_d":{price_d[k]},'
                f'"selling_offer_id":{op_id + 1},"buying_offer_id":{op_id + 2},'
                f'"trade_type":{trade_type[k]}}}')
        return {"history_ledgers": self._ledger_rows(rng, first, last),
                "history_trades": trades, "accounts": accounts}

    def latest_after(self, n_batches):
        """Latest row of every live account after genesis and the first
        `n_batches` batches."""
        latest = {}
        for applied in self.applied[:n_batches + 1]:
            for acc, row in applied:
                if row is None:
                    latest.pop(acc, None)
                else:
                    latest[acc] = row
        return latest

    def write(self, out_dir, b, tables):
        """Write one batch's files (b = -1 is genesis); returns (rows, bytes)."""
        first, last = self.batch_ledgers(b)
        out_dir = os.path.join(out_dir, "genesis" if b < 0 else f"b{b:04d}")
        rows = nbytes = 0
        for name, lines in tables.items():
            if not lines:
                continue
            d = os.path.join(out_dir, name)
            os.makedirs(d, exist_ok=True)
            data = ("\n".join(lines) + "\n").encode()
            with open(os.path.join(d, f"{first}-{last}-{name}.txt"), "wb") as f:
                f.write(data)
            rows += len(lines)
            nbytes += len(data)
        return rows, nbytes


def batch_bytes(seed, b):
    """Every NDJSON byte of batch b under `seed`, as `read_batch` returns it."""
    led = Ledger(seed)
    led.genesis()
    for i in range(b):
        led.batch(i)
    out = led.batch(b)
    return b"".join(("\n".join(out[k]) + "\n").encode() for k in sorted(out) if out[k])


def read_batch(out_dir, b):
    """Every byte of batch b's files as written under `out_dir`."""
    d = os.path.join(out_dir, f"b{b:04d}")
    data = b""
    for name in sorted(os.listdir(d)):
        for f in sorted(os.listdir(os.path.join(d, name))):
            with open(os.path.join(d, name, f), "rb") as fh:
                data += fh.read()
    return data
