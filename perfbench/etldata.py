"""Seeded input generator for the `etl_pipeline` workload.

Renders the three datasets the reference pipeline ingests over HTTP —
`clients.csv`, `accounts.csv` and the paginated transactions JSON — and
computes, in plain Python, everything the pipeline's output is checked
against: the completion line's counts and a digest of each of the three
analytics views.

Transactions carry two planted defects: a share of rows repeats the
(timestamp, account_id) key of an earlier row (first arrival must win),
and a share has a dirty amount (`"garbage"` or null, coerced to 0).
"""

import datetime
import hashlib
import json
import random

N_CLIENTS = 500
N_ACCOUNTS = 1000
N_TRANSACTIONS = 4950
PAGE_ROWS = 1000
DUP_FRAC = 0.05
DIRTY_FRAC = 0.02

VIEWS = ("client_transaction_counts", "monthly_transaction_summary",
         "high_transaction_accounts")

# three months, so most accounts see more than two transactions a month
# and high_transaction_accounts is not empty
_T0 = datetime.datetime(2024, 1, 1)
_SPAN_S = 91 * 24 * 3600


def digest(lines):
    """SHA-256 over the sorted, newline-joined row renderings."""
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


def _cents(c):
    return "%d.%02d" % (c // 100, c % 100)


def generate(seed, n_clients=N_CLIENTS, n_accounts=N_ACCOUNTS,
             n_tx=N_TRANSACTIONS, page_rows=PAGE_ROWS):
    """Returns (files, expected): `files` maps a relative name to bytes
    (`clients.csv`, `accounts.csv`, `pages/NNNN.json`); `expected` holds
    the completion counts, the view digests and the page count."""
    rng = random.Random(seed)

    clients = []
    for i in range(n_clients):
        cid = "c%06d" % i
        birth = datetime.date(1950, 1, 1) + datetime.timedelta(days=rng.randrange(20000))
        clients.append((cid, "name%06d" % i, "u%06d@x.io" % i, birth.isoformat()))
    accounts = [(100000 + i, clients[rng.randrange(n_clients)][0])
                for i in range(n_accounts)]

    tx = []  # (transaction_id, ts, account_id, amount_json, cents)
    seen = set()
    n_dup = n_dirty = 0
    for i in range(n_tx):
        if tx and rng.random() < DUP_FRAC:
            _, ts, acc, _, _ = tx[rng.randrange(len(tx))]
            n_dup += 1
        else:
            while True:
                ts = (_T0 + datetime.timedelta(seconds=rng.randrange(_SPAN_S))
                      ).strftime("%Y-%m-%d %H:%M:%S")
                acc = accounts[rng.randrange(n_accounts)][0]
                if (ts, acc) not in seen:
                    break
        seen.add((ts, acc))
        if rng.random() < DIRTY_FRAC:
            amount, cents = rng.choice(['"garbage"', "null"]), 0
            n_dirty += 1
        else:
            cents = rng.randrange(1, 1000000)
            amount = '"%s"' % _cents(cents)
        tx.append((500000 + i, ts, acc, amount, cents))

    files = {
        "clients.csv": ("client_id,client_name,client_email,client_birth_date\n" +
                        "".join(",".join(c) + "\n" for c in clients)).encode(),
        "accounts.csv": ("account_id,client_id\n" +
                         "".join("%d,%s\n" % a for a in accounts)).encode(),
    }
    types, media = ("buy", "sell", "fee"), ("card", "app", "web", "atm")
    rows = ['{"transaction_id": %d, "timestamp": "%s", "account_id": %d, '
            '"amount": %s, "type": "%s", "medium": "%s"}'
            % (tid, ts, acc, amount, types[tid % 3], media[tid % 4])
            for tid, ts, acc, amount, _ in tx]
    n_pages = (len(rows) + page_rows - 1) // page_rows
    for p in range(n_pages):
        body = '{"results": [' + ", ".join(rows[p * page_rows:(p + 1) * page_rows]) + "]}"
        files["pages/%04d.json" % p] = body.encode()

    # first-wins dedup on (timestamp, account_id) in arrival order
    kept, keys = [], set()
    for t in tx:
        if (t[1], t[2]) not in keys:
            keys.add((t[1], t[2]))
            kept.append(t)

    owner = dict(accounts)
    email = {c[0]: c[2] for c in clients}
    per_client, per_month_email, per_month_acc = {}, {}, {}
    for _, ts, acc, _, cents in kept:
        cid, month = owner[acc], ts[:7] + "-01"
        per_client[cid] = per_client.get(cid, 0) + 1
        k = (month, email[cid])
        n, s = per_month_email.get(k, (0, 0))
        per_month_email[k] = (n + 1, s + cents)
        per_month_acc[(month, acc)] = per_month_acc.get((month, acc), 0) + 1

    expected = {
        "seed": seed,
        "pages": n_pages,
        "page_rows": page_rows,
        "raw_transactions": len(tx),
        "duplicates": n_dup,
        "dirty_amounts": n_dirty,
        "completion": [len(clients), len(accounts), len(kept)],
        "views": {
            "client_transaction_counts": digest(
                "%s|%d" % kv for kv in per_client.items()),
            "monthly_transaction_summary": digest(
                "%s|%s|%d|%s" % (m, e, n, _cents(s))
                for (m, e), (n, s) in per_month_email.items()),
            "high_transaction_accounts": digest(
                "%s|%d|%d" % (m, a, n)
                for (m, a), n in per_month_acc.items() if n > 2),
        },
    }
    return files, expected


def write(seed, out_dir):
    """Renders the inputs for `seed` under `out_dir` and writes the
    expected values next to them as `expected.json`."""
    import os
    files, expected = generate(seed)
    for name, data in files.items():
        path = os.path.join(out_dir, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected
