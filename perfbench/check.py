"""Independent correctness check of one benchmark run.

    python3 perfbench/check.py <workload> [.bench_work/<workload>]

Recomputes what the program must have produced from its inputs, apart
from the program: bronze JSONL is parsed with Python's json, gold parquet
and the reference view SQL run in DuckDB, tar shards are read with
Python's tarfile, and the corpus generator's planted ground truth comes
from truth.json. Prints one line per problem and exits 1 if there are
any. run.py calls check() at the end of every run.
"""
import collections
import datetime
import decimal
import glob
import gzip
import json
import os
import re
import sys
import tarfile

import duckdb

# gold table -> (EVO entity, key fields, compared columns)
#   key fields / compared columns are (gold column, function of the
#   latest bronze record) pairs; "@first"/"@last" are the loaded-at of
#   the first and the latest run that delivered the key
D = decimal.Decimal


def money(v):
    return None if v is None else str(D(str(v)).quantize(D("0.01")))


PARENTS = {
    "evo_members": ("members", [("member_id", lambda r: r.get("idMember"))],
                    [("total_fit_coins", lambda r: money(r.get("totalFitCoins"))),
                     ("status", lambda r: r.get("status")),
                     ("_loaded_at", "@first"), ("_updated_at", "@last")]),
    "evo_sales": ("sales", [("sale_id", lambda r: r.get("idSale"))],
                  [("member_id", lambda r: r.get("idMember")),
                   ("removed", lambda r: r.get("removed")),
                   ("_loaded_at", "@first"), ("_updated_at", "@last")]),
    "evo_prospects": ("prospects", [("prospect_id", lambda r: r.get("idProspect"))],
                      [("current_step", lambda r: r.get("currentStep")),
                       ("_loaded_at", "@first"), ("_updated_at", "@last")]),
    "evo_entries": ("entries",
                    [("entry_date", lambda r: r.get("date", "").replace("T", " ").rstrip("Z") or None),
                     ("member_id", lambda r: r.get("idMember")),
                     ("branch_id", lambda r: r.get("idBranch")),
                     ("device", lambda r: r.get("device")),
                     ("entry_action", lambda r: r.get("entryAction"))],
                    [("entry_type", lambda r: r.get("entryType")),
                     ("_loaded_at", "@first"), ("_updated_at", "@last")]),
}

# child tables: one row per non-null array element, latest by run
#   (gold table, entity, parent key, array, element key, compared, gold parent key)
CHILDREN = [
    ("evo_member_memberships", "members", "idMember", "memberships",
     [("member_membership_id", "idMemberMembership")],
     [("value_next_month", lambda e: money(e.get("valueNextMonth"))),
      ("membership_status", lambda e: e.get("membershipStatus"))], "member_id"),
    ("evo_member_contacts", "members", "idMember", "contacts",
     [("phone_id", "idPhone")], [("description", lambda e: e.get("description"))], "member_id"),
    ("evo_sale_items", "sales", "idSale", "saleItens",
     [("sale_item_id", "idSaleItem")], [("item_value", lambda e: money(e.get("itemValue")))], "sale_id"),
    ("evo_receivables", "sales", "idSale", "receivables",
     [("receivable_id", "idReceivable")], [("amount", lambda e: money(e.get("amount")))], "sale_id"),
]


class Bronze:
    """Every delivered record, per (source, entity), in run order."""

    def __init__(self, work):
        self.runs = [json.loads(l) for l in open(os.path.join(work, "runs.jsonl"))]
        self.order = {r["run_id"]: i for i, r in enumerate(self.runs)}
        self.base = os.path.join(work, "lake", "bronze")
        self.cache = {}

    def loaded_at(self, run_idx):
        return self.runs[run_idx]["loaded_at"].replace("T", " ")

    def records(self, entity):
        """[(run index, record)] of an EVO entity, sorted by run."""
        if entity not in self.cache:
            out = []
            pat = os.path.join(self.base, "evo", f"entity={entity}", "*", "*", "*.jsonl.gz")
            for f in glob.glob(pat):
                run = re.search(r"run_id=([^/]+)", f).group(1)
                with gzip.open(f, "rt", encoding="utf-8") as fh:
                    out += [(self.order[run], json.loads(l)) for l in fh if l.strip()]
            out.sort(key=lambda x: x[0])
            self.cache[entity] = out
        return self.cache[entity]


def norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, D):
        return money(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    return str(v)


def gold_rows(con, work, table, cols):
    path = os.path.join(work, "lake", "gold", table)
    if not os.path.isdir(path):
        return None
    q = ", ".join(f'"{c}"' for c in cols)
    return con.execute(f"SELECT {q} FROM read_parquet('{path}/**/*.parquet', hive_partitioning=true)").fetchall()


def compare(problems, table, expected, rows, nkey):
    if rows is None:
        problems.append(f"{table}: gold table missing")
        return
    actual = {}
    for r in rows:
        k = tuple(norm(x) for x in r[:nkey])
        if k in actual:
            problems.append(f"{table}: duplicate key {k}")
            return
        actual[k] = tuple(norm(x) for x in r[nkey:])
    if len(actual) != len(expected):
        problems.append(f"{table}: {len(actual)} rows, expected {len(expected)}")
    bad = [k for k in expected if actual.get(k) != expected[k]]
    if bad:
        k = bad[0]
        problems.append(f"{table}: {len(bad)} rows differ, e.g. key {k}: "
                        f"got {actual.get(k)}, expected {expected[k]}")


def check_gold(con, work, bronze, problems):
    for table, (entity, keys, cols) in PARENTS.items():
        expected, first = {}, {}
        for run, r in bronze.records(entity):
            kv = tuple(norm(f(r)) for _, f in keys)
            if any(x is None for x in kv):
                continue  # null business key: dropped
            first.setdefault(kv, run)
            expected[kv] = tuple(
                norm(bronze.loaded_at(first[kv]) if f == "@first" else
                     bronze.loaded_at(run) if f == "@last" else f(r)) for _, f in cols)
        rows = gold_rows(con, work, table, [c for c, _ in keys] + [c for c, _ in cols])
        compare(problems, table, expected, rows, len(keys))
    for table, entity, pkey, arr, ekeys, cols, gparent in CHILDREN:
        expected = {}
        for _, r in bronze.records(entity):
            if r.get(pkey) is None:
                continue
            for e in r.get(arr) or []:
                if any(e.get(f) is None for _, f in ekeys):
                    continue  # element without its id: filtered
                k = (norm(r[pkey]),) + tuple(norm(e[f]) for _, f in ekeys)
                expected[k] = tuple(norm(f(e)) for _, f in cols)
        rows = gold_rows(con, work, table, [gparent] + [c for c, _ in ekeys] + [c for c, _ in cols])
        compare(problems, table, expected, rows, 1 + len(ekeys))


def gold_views(con, work):
    for t in os.listdir(os.path.join(work, "lake", "gold")):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{work}/lake/gold/{t}/**/*.parquet', hive_partitioning=true)")


# reference SQL of each dashboard view, written from the reference's
# view definitions, and the columns that identify a row
REFERENCE = {
    "vw_daily_entries": ("""
        SELECT CAST(entry_date AS DATE) AS entry_day, branch_id, count(*) AS n_entries,
               count(DISTINCT member_id) AS n_unique_members
        FROM evo_entries GROUP BY ALL""", 2),
    "membership_retention": ("""
        SELECT m.branch_id, ms.membership_status, count(DISTINCT member_id) AS n_members,
               count(*) AS n_memberships
        FROM evo_member_memberships ms JOIN evo_members m USING (member_id)
        GROUP BY ALL""", 2),
}


def close(a, b):
    if a is None or b is None:
        return a is None and b is None
    try:
        x, y = float(a), float(b)
        return abs(x - y) <= 1e-6 * max(1.0, abs(x), abs(y))
    except (TypeError, ValueError):
        return str(a) == str(b)


def check_views(con, work, problems):
    for name, (sql, nkey) in REFERENCE.items():
        path = os.path.join(work, "views", f"{name}.jsonl")
        if not os.path.exists(path):
            problems.append(f"{name}: no program output")
            continue
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        ref = {tuple(norm(x) for x in r[:nkey]): r[nkey:] for r in cur.fetchall()}
        got = {}
        for line in open(path):
            row = json.loads(line)
            k = tuple(norm(row.get(c)) for c in cols[:nkey])
            got[k] = tuple(row.get(c) for c in cols[nkey:])
        if len(got) != len(ref):
            problems.append(f"{name}: {len(got)} rows, reference {len(ref)}")
        bad = [k for k in ref if k not in got or not all(map(close, got[k], ref[k]))]
        if bad:
            problems.append(f"{name}: {len(bad)} rows differ from the reference, e.g. {bad[0]}: "
                            f"got {got.get(bad[0])}, reference {ref[bad[0]]}")


def check_lookups(con, work, problems):
    n = bad = 0
    for line in open(os.path.join(work, "lookups.jsonl")):
        q = json.loads(line)
        n += 1
        ref = con.execute(q["sql"]).fetchall()
        got = [tuple(r.values()) for r in q["rows"]]
        ok = len(ref) == len(got) and all(
            close(norm(a), norm(b)) or str(norm(b))[:19] == str(norm(a)).replace("T", " ")[:19]
            for g, r in zip(got, ref) for a, b in zip(g, r))
        if not ok:
            bad += 1
            if bad == 1:
                problems.append(f"lookup differs: {q['sql']}: got {got}, reference {ref}")
    if n == 0:
        problems.append("no lookups recorded")
    elif bad:
        problems.append(f"{bad} of {n} lookups differ")


def check_replay(con, work, problems):
    """Traced runs replay the timed increment (same run id and
    loaded-at) after the round; gold is copied before and after it."""
    before = os.path.join(work, "gold_before_replay")
    after = os.path.join(work, "gold_after_replay")
    for t in sorted(os.listdir(before)):
        a = f"read_parquet('{before}/{t}/**/*.parquet', hive_partitioning=true)"
        b = f"read_parquet('{after}/{t}/**/*.parquet', hive_partitioning=true)"
        n = con.execute(f"SELECT (SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}))"
                        f" + (SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))"
                        ).fetchone()[0]
        if n:
            problems.append(f"replaying an increment changed {n} rows of {t}")


def check_corpus(con, work, problems):
    truth = json.load(open(os.path.join(work, "truth.json")))
    docs = dict(con.execute(f"SELECT id, text FROM read_parquet('{work}/corpus/*.parquet')").fetchall())
    budget = truth["budget"]
    seen = collections.Counter()
    shard_of = {}
    tars = sorted(glob.glob(os.path.join(work, "shards", "shard-*.tar")))
    if not tars:
        problems.append("no tar shards written")
    for path in tars:
        with tarfile.open(path) as tf:
            for m in tf.getmembers():
                p, i = re.fullmatch(r"p(\d+)-(\d+)\.txt", m.name).groups()
                i = int(i)
                seen[i] += 1
                shard_of[i] = int(p)
                if tf.extractfile(m).read().decode("utf-8") != docs.get(i):
                    problems.append(f"tar entry {m.name} does not hold document {i}")
    survivors = set(seen)
    if any(c != 1 for c in seen.values()):
        problems.append(f"{sum(c != 1 for c in seen.values())} documents sit in more than one tar entry")

    def passes(text):
        toks = text.split(" ")
        hits = sum(t in ("the", "a", "of", "and", "to", "in") for t in toks)
        return 20 <= len(toks) <= 100000 and round(hits / len(toks), 4) <= 0.15 and hits > 0

    for g in truth["exact_groups"]:
        keep = [i for i in g if passes(docs[i])]
        if keep and (min(keep) not in survivors or any(i in survivors for i in keep if i != min(keep))):
            problems.append(f"exact-duplicate group {g} kept {sorted(survivors & set(g))}")
    # a family is one near-duplicate cluster: its smallest id that
    # passes the gates survives, and the other members are removed.
    # Members differ by one or two tokens, so a pair's token 3-shingle
    # Jaccard is about 0.8 to 0.9 or more, and MinHash-LSH with 12
    # hashes in 4 bands makes it a candidate with probability
    # 1 - (1 - J^3)^4, 0.95 to 0.995: over the ~75 members to remove,
    # an occasional miss is the method's recall, not a fault. More than
    # NEAR_MISSES survivors is.
    NEAR_MISSES = 3
    extra = []
    for f in truth["near_families"]:
        keep = [i for i in f if passes(docs[i])]
        if keep and min(keep) not in survivors:
            problems.append(f"near-duplicate family {f} lost its smallest id")
        extra += [i for i in keep if i != min(keep) and i in survivors]
    if len(extra) > NEAR_MISSES:
        problems.append(f"{len(extra)} near-duplicates survived (at most {NEAR_MISSES} LSH misses "
                        f"expected), e.g. {extra[:5]}")
    lost = [i for i in truth["distinct"] if passes(docs[i]) and i not in survivors]
    if lost:
        problems.append(f"{len(lost)} distinct documents were merged or dropped, e.g. {lost[:5]}")
    short = [i for i in truth["short"] if i in survivors]
    if short:
        problems.append(f"{len(short)} too-short documents survived")
    # token-budget packing: exclusive prefix sum of token counts in id
    # order, divided by the budget; a shard goes over the budget only
    # by its last document
    prefix = 0
    wrong = 0
    per_shard = collections.defaultdict(list)
    for i in sorted(survivors):
        n = len(docs[i].split(" "))
        wrong += shard_of[i] != prefix // budget
        per_shard[shard_of[i]].append(n)
        prefix += n
    if wrong:
        problems.append(f"{wrong} documents in the wrong budget shard")
    over = [s for s, ns in per_shard.items() if sum(ns) - ns[-1] >= budget]
    if over:
        problems.append(f"shards {over[:5]} exceed the token budget before their last document")
    if truth["oversize"] in survivors and len(docs[truth["oversize"]].split(" ")) <= budget:
        problems.append("the oversize document is not larger than the budget")


def check(workload, work):
    """Problems found, as messages; empty when the run is correct."""
    problems = []
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    try:
        if workload == "corpus_shards":
            check_corpus(con, work, problems)
        else:
            check_gold(con, work, Bronze(work), problems)
            gold_views(con, work)
            check_views(con, work, problems)
            check_lookups(con, work, problems)
            if os.path.isdir(os.path.join(work, "gold_before_replay")):
                check_replay(con, work, problems)
    except Exception as e:  # a crash of the check is a failed check
        problems.append(f"check raised {type(e).__name__}: {e}")
    finally:
        con.close()
    return problems


if __name__ == "__main__":
    wl = sys.argv[1]
    wd = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_work", wl)
    found = check(wl, wd)
    for p in found:
        print(p)
    print("ok" if not found else f"{len(found)} problems")
    sys.exit(1 if found else 0)
