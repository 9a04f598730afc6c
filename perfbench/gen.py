"""Seeded input generator for the benchmark's workloads.

Every input is a pure function of (workload, seed, seconds): the same
arguments give byte-identical files. The program under test only sees the
files written here (and frames the harness builds from them).
"""

import bisect
import datetime
import json
import os
import random

# Words of the TPC-H comment grammar (spec section 4.2.2.10): the free-text
# columns read like lineitem/orders comments.
WORDS = (
    "furiously sly careful blithe quick fluffy slow quiet ruthless thin close "
    "dogged daring brave stealthy permanent enticing idle busy regular final "
    "ironic even bold silent express special pending unusual packages requests "
    "accounts deposits foxes ideas theodolites pinto beans instructions "
    "dependencies excuses platelets asymptotes courts dolphins multipliers "
    "sauternes warthogs frets dinos attainments somas tithes waters decoys "
    "realms sentiments patterns forges braids hockey players frays warhorses "
    "dugouts notornis epitaphs pearls tiresias sheaves sleep wake are cajole "
    "haggle nag use boost affix detect integrate maintain nod was lose sublate "
    "solve thrash promise engage hinder print x-ray breach eat grow impress "
    "mold poach serve run dazzle snooze doze unwind kindle play hang believe "
    "doubt about above according across after against along alongside among "
    "around at atop before behind beneath beside besides between beyond by "
    "despite during except for from inside instead of into near past since "
    "through throughout to toward under until upon without within"
).split()

EVENT_TYPES = ["view", "click", "add_to_cart", "purchase", "search", "share",
               "wishlist", "review"]

# Where a size or proportion below has no measured source, it is marked
# "assumption"; README.md ("Where the inputs come from") lists each one.
ETL_ROWS = 10000               # assumption: rows per locopy input file
ETL_FLAGS = "ANR"              # TPC-H l_returnflag values
ETL_WARM_ROWS = 2000
LAKE_SEED_ROWS = 10000         # assumption: 10% of sf0.1 `events` (100,000 rows)
LAKE_SECONDS_PER_BLOCK = 8     # nominal time of one block of ops
# One block of the timed schedule. Every block has the same op mix, so every
# seed runs the same mix and only keys, ranges, rows and files vary. `etl` is
# one locopy round trip over a file no earlier op used. The mix is an
# assumption: read-mostly (22 reads to 2 writes), between YCSB workloads
# A (50/50) and B (95/5), plus one maintenance and one ETL op per block.
LAKE_BLOCK = ["etl", "point", "scan", "point", "scan_recent", "point", "append", "scan",
              "point", "scan_history", "point", "scan", "point", "merge", "scan_recent",
              "point", "scan", "point", "scan_history", "point", "optimize", "scan",
              "point", "scan", "point", "point"]
LAKE_APPEND_ROWS = 40          # assumption
LAKE_MERGE_ROWS = (6, 2)       # assumption: updated rows, inserted rows
LAKE_MERGE_WINDOW = 40         # assumption: merges update the newest 40 ids
# YCSB: keys follow its "latest" distribution (workload D), a Zipfian over
# recency with constant 0.99; a scan's length is uniform in 1..100 (workload E).
ZIPF_THETA = 0.99
SCAN_MAX_LEN = 100
# The sf0.1 `documents` fixture: 5,000 documents of 10-100 words (uniform)
# over the 30 words below; 250 (5%) are another document plus " dup".
# graft.Bench's `stream_neardup_restart` ingests it as two files, so a
# micro-batch holds 2,500 documents.
DOC_WORDS = ("a agg batch big column customer data fast filter group hash join key "
             "line merge order part query row scan slow small sort spark stream "
             "table the value vector window").split()
DOC_LEN = (10, 100)
NEARDUP_DOCS_PER_BATCH = 2500
NEARDUP_WARM_DOCS = 250
NEARDUP_SECONDS_PER_BATCH = 8     # a 2,500-document batch takes ~10 s on 4 cores
NEARDUP_SHARE = 0.05
SHINGLE = 5


def rng_for(workload, seed):
    return random.Random(f"{workload}:{seed}")


def generate(workload, seed, seconds, out_dir):
    """Writes the inputs of `workload` under `out_dir`; returns their properties."""
    os.makedirs(out_dir, exist_ok=True)
    return {"lakehouse_mix": gen_lake,
            "neardup_stream": gen_neardup}[workload](seed, seconds, out_dir)


# ---------------------------------------------------------------- etl

def etl_rows(rng, first_id, n):
    """One file's rows: id, qty, price, ship_date, nq, flag, comment."""
    day0 = datetime.date(1992, 1, 1)
    days = [(day0 + datetime.timedelta(days=k)).isoformat() for k in range(2526)]
    qty = rng.choices(range(1, 51), k=n)
    price = rng.choices(range(100, 10_000_000), k=n)
    ship = rng.choices(days, k=n)
    nq = [("" if u < 0.3 else str(int(u * 14285) % 10000)) for u in
          (rng.random() for _ in range(n))]
    flag = rng.choices(ETL_FLAGS, k=n)
    lens = rng.choices(range(3, 10), k=n)
    words = rng.choices(WORDS, k=sum(lens))
    rows, at = [], 0
    for i in range(n):
        rows.append((str(first_id + i), str(qty[i]), "%d.%02d" % divmod(price[i], 100),
                     ship[i], nq[i], flag[i], " ".join(words[at:at + lens[i]])))
        at += lens[i]
    return rows


def etl_expect(rows):
    """What a correct load of `rows` must hold (see check.check_etl)."""
    agg = {}
    for r in rows:
        a = agg.setdefault(r[5], [0, 0, ""])
        a[0] += 1
        a[1] += int(r[1])
        a[2] = max(a[2], r[3])
    cents = sum(int(r[2].replace(".", "")) for r in rows)
    nqs = [int(r[4]) for r in rows if r[4] != ""]
    return {
        "rows": len(rows),
        "sum_id": sum(int(r[0]) for r in rows),
        "sum_qty": sum(int(r[1]) for r in rows),
        "sum_price_cents": cents,
        "nq_count": len(nqs),
        "sum_nq": sum(nqs),
        "min_date": min(r[3] for r in rows),
        "max_date": max(r[3] for r in rows),
        "comment_chars": sum(len(r[6]) for r in rows),
        "flags": len(agg),
        "agg": [{"flag": f, "n": a[0], "qty": a[1], "last_ship": a[2]}
                for f, a in sorted(agg.items())],
    }


ETL_TYPES = ["bigint", "bigint", "double", "date", "bigint", "string", "string"]
ETL_HEADER = "id,qty,price,ship_date,nq,flag,comment"


def gen_etl(seed, seconds, out_dir):
    """The delimited files of the `etl` ops: one warm-up file, one per block."""
    d = os.path.join(out_dir, "etl")
    os.makedirs(d, exist_ok=True)
    rng = rng_for("etl_roundtrip", seed)
    names = ["warm"] + ["cycle_%03d" % c for c in range(lake_blocks(seconds))]
    expect = {}
    total_bytes = 0
    for k, name in enumerate(names):
        rows = etl_rows(rng, 1 + k * ETL_ROWS, ETL_WARM_ROWS if name == "warm" else ETL_ROWS)
        text = ETL_HEADER + "\n" + "".join(",".join(r) + "\n" for r in rows)
        path = os.path.join(d, name + ".csv")
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
        total_bytes += len(text.encode("utf-8"))
        expect[name] = etl_expect(rows)
    with open(os.path.join(d, "expect.json"), "w") as f:
        json.dump(expect, f, sort_keys=True)
    return {"etl_files": len(names), "etl_rows_per_file": ETL_ROWS,
            "etl_bytes": total_bytes, "etl_null_share_nq": 0.3, "etl_columns": ETL_HEADER}


# ---------------------------------------------------------------- lakehouse

class LakeModel:
    """In-memory model of the manifest table: per id, its value history
    keyed by write ordinal, so any past write's snapshot can be read."""

    def __init__(self):
        self.ids = []           # insertion order (recency ranking)
        self.hist = {}          # id -> ([write ordinals], [(cat, v, ts)])
        self.writes = -1

    def write(self, rows):
        self.writes += 1
        w = self.writes
        for r in rows:
            key, row = r[0], tuple(r[1:])
            h = self.hist.get(key)
            if h is None:
                self.hist[key] = ([w], [row])
                self.ids.append(key)
            else:
                h[0].append(w)
                h[1].append(row)

    def row_at(self, key, w=None):
        h = self.hist.get(key)
        if h is None:
            return None
        if w is None:
            return h[1][-1]
        k = bisect.bisect_right(h[0], w)
        return h[1][k - 1] if k else None

    def point(self, key):
        r = self.row_at(key)
        return [] if r is None else [[key, *r]]

    def scan(self, lo, hi, w=None):
        n, s = 0, 0
        for key in range(lo, hi + 1):
            r = self.row_at(key, w)
            if r is not None:
                n += 1
                s += r[1]
        return {"n": n, "s": s if n else None}

    def matched(self, rows):
        return sum(1 for r in rows if r[0] in self.hist)

    def totals(self):
        live = [(k, h[1][-1]) for k, h in self.hist.items()]
        return {"rows": len(live), "sum_id": sum(k for k, _ in live),
                "sum_v": sum(r[1] for _, r in live), "sum_ts": sum(r[2] for _, r in live),
                "cat_chars": sum(len(r[0]) for _, r in live)}


_zipf_cum = [0.0]                   # _zipf_cum[k] = sum of i ** -theta, i <= k


def recent_rank(rng, n):
    """Recency rank in [1, n], Zipfian with constant ZIPF_THETA: rank 1 is
    the newest key (YCSB's "latest" distribution)."""
    while len(_zipf_cum) <= n:
        _zipf_cum.append(_zipf_cum[-1] + len(_zipf_cum) ** -ZIPF_THETA)
    return bisect.bisect_left(_zipf_cum, rng.random() * _zipf_cum[n], 1, n)


def lake_row(rng, key, ts0):
    return [key, rng.choice(EVENT_TYPES), rng.randint(0, 1000), ts0 + rng.randint(0, 10 ** 6)]


def lake_ops(seed, seconds, m):
    """The op schedule, advancing the model `m` as it goes.

    Yields (op, expected) pairs in order; `expected` is None for ops
    whose only check is that they succeed (appends, optimize) and for `etl`
    ops, which are checked against etl/expect.json."""
    rng = rng_for("lakehouse_mix", seed)
    ts0 = 1_700_000_000_000
    nxt = [1]
    etl_next = [0]

    def new_rows(k):
        rows = [lake_row(rng, nxt[0] + j, ts0) for j in range(k)]
        nxt[0] += k
        return rows

    def write(kind, rows, ph):
        op = {"op": kind, "w": m.writes + 1, "rows": rows, "ph": ph}
        exp = {"matched": m.matched(rows)} if kind == "merge" else None
        m.write(rows)
        return op, exp

    def op_of(kind, ph):
        n = len(m.ids)
        if kind == "point":
            key = m.ids[-recent_rank(rng, n)]
            return {"op": "point", "id": key, "ph": ph}, m.point(key)
        if kind.startswith("scan"):
            lo = m.ids[-recent_rank(rng, n)]
            hi = lo + rng.randint(1, SCAN_MAX_LEN) - 1
            if kind == "scan":
                at = None                                   # head
            elif kind == "scan_recent":
                at = max(0, m.writes - rng.randint(0, 7))   # one of the last 8 writes
            else:
                at = rng.randint(0, m.writes)               # any write so far
            op = {"op": "scan", "lo": lo, "hi": hi, "ph": ph}
            if at is not None:
                op["at"] = at
            return op, m.scan(lo, hi, at)
        if kind == "append":
            return write("append", new_rows(LAKE_APPEND_ROWS), ph)
        if kind == "etl":
            name = "cycle_%03d" % etl_next[0]
            etl_next[0] += 1
            return {"op": "etl", "file": name, "ph": ph}, None
        if kind == "merge":
            # upserts correct recent events
            window = min(n, LAKE_MERGE_WINDOW)
            keys = sorted({m.ids[-recent_rank(rng, window)] for _ in range(LAKE_MERGE_ROWS[0])})
            rows = [lake_row(rng, k, ts0) for k in keys] + new_rows(LAKE_MERGE_ROWS[1])
            return write("merge", rows, ph)
        return {"op": "optimize", "ph": ph}, None

    yield write("append", new_rows(LAKE_SEED_ROWS), "seed")
    for kind in ["point", "scan_history", "append", "merge", "optimize"]:
        yield op_of(kind, "warm")
    for _ in range(lake_blocks(seconds)):
        for kind in LAKE_BLOCK:
            yield op_of(kind, "run")


def lake_blocks(seconds):
    return max(1, round(seconds / LAKE_SECONDS_PER_BLOCK))


def gen_lake(seed, seconds, out_dir):
    d = os.path.join(out_dir, "lake")
    os.makedirs(d, exist_ok=True)
    props = gen_etl(seed, seconds, out_dir)
    counts = {}
    n_bytes = 0
    with open(os.path.join(d, "schedule.jsonl"), "w") as f:
        for i, (op, _) in enumerate(lake_ops(seed, seconds, LakeModel())):
            op["i"] = i
            line = json.dumps(op, sort_keys=True) + "\n"
            n_bytes += len(line)
            f.write(line)
            if op["ph"] == "run":
                kind = op["op"] + ("_at" if "at" in op else "")
                counts[kind] = counts.get(kind, 0) + 1
    total = sum(counts.values())
    writes = counts.get("append", 0) + counts.get("merge", 0)
    return dict(props, **{
            "seed_rows": LAKE_SEED_ROWS, "blocks": lake_blocks(seconds),
            "timed_ops": total, "schedule_bytes": n_bytes,
            "mix": {k: round(v / total, 4) for k, v in sorted(counts.items())},
            "write_share": round(writes / total, 4),
            "key_skew": f"Zipfian over recency, constant {ZIPF_THETA}",
            "scan_len": f"uniform 1..{SCAN_MAX_LEN} ids",
            "relation_cache_entries": 64,
            "snapshot_versions_at_start": 3,
            "snapshot_working_set": "scan@head: 1 per write; scan@recent: last 8 writes; "
                                    "scan@history: every write so far (< 64)"})


# ---------------------------------------------------------------- near-dup

def shingles(text):
    t = " ".join(text.lower().split())
    return {t[i:i + SHINGLE] for i in range(max(1, len(t) - SHINGLE + 1))}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def neardup_batches(seconds):
    return max(2, int(round(seconds / NEARDUP_SECONDS_PER_BATCH)))


def neardup_docs(seed, seconds):
    """(docs, novel ids): docs are (batch, id, text); batch -1 is the
    warm-up run's. As in the `documents` fixture, a planted near-duplicate
    is an earlier novel document plus " dup", in the same batch or an
    earlier one; every other document is novel."""
    rng = rng_for("neardup_stream", seed)
    docs, novel = [], []
    accepted = []                       # (id, text) of novel docs so far

    def novel_text():
        return " ".join(rng.choices(DOC_WORDS, k=rng.randint(*DOC_LEN)))

    for b in range(-1, neardup_batches(seconds)):
        if b == 0:
            accepted = []               # the warm-up run has its own corpus
        base = (b + 2) * 100_000
        batch_novel = []
        for i in range(NEARDUP_WARM_DOCS if b < 0 else NEARDUP_DOCS_PER_BATCH):
            did = base + i
            if batch_novel and rng.random() < NEARDUP_SHARE:
                within = not accepted or rng.random() < 0.5
                src = rng.choice(batch_novel if within else accepted)
                text = src[1] + " dup"
                assert jaccard(text, src[1]) >= 0.85, "planted pair below threshold"
            else:
                text = novel_text()
                batch_novel.append((did, text))
                if b >= 0:
                    novel.append(did)
            docs.append((b, did, text))
        accepted.extend(batch_novel)
    return docs, novel


def gen_neardup(seed, seconds, out_dir):
    d = os.path.join(out_dir, "neardup")
    os.makedirs(d, exist_ok=True)
    docs, novel = neardup_docs(seed, seconds)
    n_bytes = 0
    with open(os.path.join(d, "docs.jsonl"), "w") as f:
        for b, did, text in docs:
            line = json.dumps({"b": b, "id": did, "t": text}) + "\n"
            n_bytes += len(line)
            f.write(line)
    timed = [x for x in docs if x[0] >= 0]
    with open(os.path.join(d, "expect.json"), "w") as f:
        json.dump({"docs": len(timed), "novel": novel}, f)
    return {"batches": neardup_batches(seconds), "docs": len(timed),
            "docs_per_batch": NEARDUP_DOCS_PER_BATCH, "bytes": n_bytes,
            "near_dup_share": round(1 - len(novel) / len(timed), 4),
            "threshold": 0.8, "shingle": SHINGLE}
