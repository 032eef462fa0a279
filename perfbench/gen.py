"""Seeded input generator for the benchmark workloads.

Writes the star-schema tables (region, nation, customer, supplier, part,
orders, lineitem) and crawl-shaped document batches as parquet
*directories* (`<dir>/<table>.parquet/part-00000.parquet`), the layout
`graft.io.Tables.table` reads, so extra files dropped into a table directory
are picked up by the next scan. Column names and types follow FIXTURES.md
section B.

Properties the data is given on purpose:
  * Zipf-skewed `l_partkey` and `l_suppkey` (a few hot parts and suppliers);
  * ~1% of rows with a null in a projected column and ~1% re-sent duplicate
    rows per table, so the cleaning step removes real rows;
  * per night ~0.5% new orders (with their lineitems and dirty rows), dated
    after the base date range;
  * documents drawn from a seeded Zipf vocabulary of 20k words that includes
    the library's stopword list, with stated shares of too-short documents,
    exact duplicates and near-duplicates (word 3-shingle Jaccard >= 0.8).

Everything is a pure function of the seed. The ground truth the checks need
(row counts, dirty-row counts, injected duplicate pairs) is returned and
written next to the data as `truth.json`.
"""

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# graft.text.TextOps.Stopwords, the most frequent words of the vocabulary
STOPWORDS = ["the", "a", "an", "of", "to", "in", "is", "and", "or", "for", "on",
             "with", "as", "at", "by", "it", "be", "this", "that", "are"]

BASE_START = dt.date(1995, 1, 1)
BASE_DAYS = 6 * 365          # base orders fall in 1995-01-01 .. 2000-12-29
NIGHT_ORDER_SHARE = 0.005    # new orders per night, share of the base
NULL_SHARE = 0.01
DUP_SHARE = 0.01

VOCAB_SIZE = 20000
SHORT_SHARE = 0.05           # < 15 tokens: below the quality gate (score 0.2)
EXACT_SHARE = 0.03
NEAR_SHARE = 0.05
NEAR_MIN_JACCARD = 0.8
SHINGLE = 3

ROW_GROUP = 65536
_EPOCH = dt.date(1970, 1, 1)
_US_PER_DAY = 86400 * 1_000_000


def _ts(days_from_epoch):
    """int day offsets -> timestamp[us] (no zone), like the fixtures."""
    return pa.array(np.asarray(days_from_epoch, dtype=np.int64) * _US_PER_DAY,
                    type=pa.timestamp("us"))


def _write(table, path):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"),
                   row_group_size=ROW_GROUP)


def _zipf(rng, n, s):
    """Bounded Zipf over ranks 0..n-1: rank r has weight (r+1)^-s."""
    cdf = np.cumsum(np.arange(1, n + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]
    return lambda size: np.minimum(np.searchsorted(cdf, rng.random(size)), n - 1)


def _zipf_keys(rng, n, s):
    """Zipf over n keys whose ranks map to keys through a seeded
    permutation, so the hot keys are scattered."""
    ranks, perm = _zipf(rng, n, s), rng.permutation(n)
    return lambda size: perm[ranks(size)]


def _dirty(rng, table, null_cols):
    """Null one of `null_cols` in ~1% of rows, then append ~1% re-sent copies
    of clean rows. Returns (dirty table, null rows, duplicate rows)."""
    n = table.num_rows
    n_null = int(round(n * NULL_SHARE))
    n_dup = int(round(n * DUP_SHARE))
    order = rng.permutation(n)
    null_rows, dup_src = order[:n_null], np.sort(order[n_null:n_null + n_dup])
    which = rng.integers(0, len(null_cols), n_null)
    cols = {}
    for name in table.column_names:
        col = table.column(name).combine_chunks()
        if name in null_cols:
            mask = np.zeros(n, dtype=bool)
            mask[null_rows[which == null_cols.index(name)]] = True
            col = pa.array(col.to_numpy(zero_copy_only=False), type=col.type,
                           mask=mask) if mask.any() else col
        cols[name] = col
    dirty = pa.table(cols)
    return pa.concat_tables([dirty, dirty.take(pa.array(dup_src))]), n_null, n_dup


def _orders(rng, keys, days, n_cust):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": _ts(days),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n)]),
    })


def _lineitem(rng, okeys, odays, part_draw, supp_draw, retail):
    lines = rng.integers(1, 8, len(okeys))
    n = int(lines.sum())
    ok = np.repeat(okeys, lines)
    od = np.repeat(odays, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    pk = part_draw(n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(supp_draw(n), pa.int64()),
        "l_linenumber": pa.array((np.arange(n) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[pk], 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["R", "A", "N"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(od + rng.integers(1, 121, n)),
    })


def star(out, seed, orders, nights=0):
    """Star schema with `orders` base orders into `out`, plus `nights`
    nightly increments under `out/nights/NNNN/`. Returns the ground truth."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_part, n_supp = max(10, orders // 10), max(20, orders * 2 // 15), max(10, orders // 150)
    truth = {"seed": seed, "tables": {}, "nights": []}

    def put(name, table, null_cols, path=out, record=truth["tables"]):
        t, n_null, n_dup = _dirty(rng, table, null_cols) if null_cols else (table, 0, 0)
        _write(t, os.path.join(path, name + ".parquet"))
        record[name] = {"rows": t.num_rows, "null_rows": n_null, "dup_rows": n_dup}

    put("region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}), [])
    put("nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}), [])
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                           "MACHINERY"])[rng.integers(0, 5, n_cust)])}),
        ["c_name", "c_nationkey"])
    put("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2))}),
        ["s_name", "s_nationkey"])
    retail = np.round(900 + np.arange(n_part) % 20000 / 10.0, 2)
    adjectives = np.array(["small", "red", "blue", "green", "large", "shiny", "matte", "steel"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "valve", "spring", "plate", "screw"])
    put("part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        # unique names keep the top-k tie-break deterministic
        "p_name": pa.array([f"{adjectives[i % 8]} {nouns[(i // 8) % 8]} {i}" for i in range(n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE",
                                     "PROMO"])[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(retail)}), ["p_brand", "p_type"])

    part_draw = _zipf_keys(rng, n_part, 1.0)
    supp_draw = _zipf_keys(rng, n_supp, 1.0)
    start = (BASE_START - _EPOCH).days
    okeys = np.arange(orders)
    odays = start + rng.integers(0, BASE_DAYS, orders)
    put("orders", _orders(rng, okeys, odays, n_cust), ["o_custkey"])
    put("lineitem", _lineitem(rng, okeys, odays, part_draw, supp_draw, retail),
        ["l_partkey", "l_suppkey"])

    per_night = max(1, int(round(orders * NIGHT_ORDER_SHARE)))
    for i in range(1, nights + 1):
        keys = orders + (i - 1) * per_night + np.arange(per_night)
        days = np.full(per_night, start + BASE_DAYS + i)
        rec = {}
        path = os.path.join(out, "nights", f"{i:04d}")
        put("orders", _orders(rng, keys, days, n_cust), ["o_custkey"], path, rec)
        put("lineitem", _lineitem(rng, keys, days, part_draw, supp_draw, retail),
            ["l_partkey", "l_suppkey"], path, rec)
        truth["nights"].append(rec)
    truth["sizes"] = {"orders": orders, "customer": n_cust, "part": n_part,
                      "supplier": n_supp, "orders_per_night": per_night}
    return truth


def _vocab(rng):
    syl = np.array(["ka", "lo", "mi", "ne", "ru", "ta", "sho", "vi", "del", "mar", "pon", "qui",
                    "ber", "gan", "tor", "fel", "zu", "ix", "or", "ul", "ash", "en", "ry", "sa",
                    "bo", "ci", "du", "fa", "ge", "ho", "ju", "ke", "li", "mo", "nu", "pe"])
    words, seen = list(STOPWORDS), set(STOPWORDS)
    while len(words) < VOCAB_SIZE:
        w = "".join(syl[rng.integers(0, len(syl), rng.integers(2, 5))])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def _shingles(toks):
    return set(zip(*(toks[i:] for i in range(SHINGLE))))


def jaccard(a, b):
    """Word 3-shingle Jaccard of two token lists (the near-dup definition)."""
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


class _DocMaker:
    def __init__(self, rng):
        self.rng = rng
        self.vocab = _vocab(rng)
        self.vocab_dot = np.array([w + "." for w in self.vocab], dtype=object)
        # rank 0 is the most frequent word, so the stopwords (ranks 0-19)
        # dominate as in real text
        self.draw = _zipf(rng, VOCAB_SIZE, 1.05)
        self.tokens = []   # token lists of every document made so far, by doc_id

    def fresh(self, lengths):
        """Fresh documents of the given token counts, drawn in one batch."""
        idx = self.draw(int(lengths.sum()))
        dots = self.rng.random(len(idx)) < 1 / 15   # sentence ends: a little punctuation
        words = np.where(dots, self.vocab_dot[idx], self.vocab[idx])
        return np.split(words, np.cumsum(lengths)[:-1])

    def near(self, orig):
        """Copy of `orig` with 1-3 words replaced at random positions, kept
        only if its Jaccard with `orig` is >= 0.8 (None after 8 tries)."""
        orig = list(orig)
        for _ in range(8):
            toks = list(orig)
            k = int(self.rng.integers(1, 4))
            for p, w in zip(self.rng.choice(len(toks), k, replace=False), self.draw(k)):
                toks[p] = self.vocab[w]
            if toks != orig and jaccard(orig, toks) >= NEAR_MIN_JACCARD:
                return toks
        return None


def docs(out, seed, base, batch, batches):
    """Base corpus of `base` documents (`out/base/documents.parquet`) and
    `batches` crawl batches of `batch` documents each
    (`out/batches/NNNN/documents.parquet`). Returns the ground truth."""
    rng = np.random.default_rng([seed, 2])
    mk = _DocMaker(rng)
    truth = {"seed": seed, "exact_pairs": [], "near_pairs": [], "short": [], "sets": []}
    long_ids = []   # non-short documents usable as duplicate originals

    def make_set(n, path):
        first = len(mk.tokens)
        kinds = rng.random(n)
        short = (kinds >= EXACT_SHARE + NEAR_SHARE) & (kinds < EXACT_SHARE + NEAR_SHARE + SHORT_SHARE)
        lengths = np.where(short, rng.integers(3, 15, n),
                           np.minimum(400, 40 + rng.geometric(1 / 90, n)))
        fresh = mk.fresh(lengths)
        for j in range(n):
            doc_id, u, toks = first + j, kinds[j], fresh[j]
            # originals come from this set's earlier docs or from any earlier set
            if u < EXACT_SHARE + NEAR_SHARE and long_ids:
                orig = long_ids[int(rng.integers(0, len(long_ids)))]
                if u < EXACT_SHARE:
                    toks = mk.tokens[orig]
                    truth["exact_pairs"].append([orig, doc_id])
                else:
                    near = mk.near(mk.tokens[orig])
                    if near is not None:
                        toks = near
                        truth["near_pairs"].append([orig, doc_id])
            elif short[j]:
                truth["short"].append(doc_id)
            mk.tokens.append(toks)
            if len(toks) >= 15:
                long_ids.append(doc_id)
        texts = [" ".join(list(t)) for t in mk.tokens[first:first + n]]
        ids = np.arange(first, first + n)
        _write(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }), os.path.join(path, "documents.parquet"))
        truth["sets"].append({"first_id": first, "rows": n})

    make_set(base, os.path.join(out, "base"))
    for i in range(1, batches + 1):
        make_set(batch, os.path.join(out, "batches", f"{i:04d}"))
    return truth


def generate(out, workload, seed, sizes):
    if workload == "corpus_ingest":
        truth = docs(out, seed, sizes["base_docs"], sizes["batch_docs"], sizes["batches"])
    else:
        truth = star(out, seed, sizes["orders"], sizes.get("nights", 0))
    truth["workload"] = workload
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth
