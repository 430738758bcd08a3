"""Seeded input generators for the benchmark's three workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, another seed writes different ones. The program under
test only ever sees what these functions write.

- interactive: the analyst tables (events, orders, customer, lineitem) at
  the sf0.1 shape, plus the seeded statement stream (templates, literals,
  order) and each statement's plain-SQL twin, run by DuckDB as the check.
- curate: a documents corpus made of base documents and seeded copies with
  fresh ids and text edits, so exact and near duplicates exist.
- ingest: event batches skewed toward recent days, and the running tally
  the store must agree with after every commit.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z
DAY = 86400
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# Sizes (rows). The interactive tables follow the sf0.1 test tables column
# by column (row counts, key ranges, value and date distributions, one row
# group per file; README.md lists the profile); the curate corpus and ingest
# batches are sized so a run fits the per-run time budget documented there.
INTERACTIVE_ROWS = {"customer": 15_000, "orders": 150_000,
                    "lineitem": 600_000, "events": 100_000}
CURATE_BASE_DOCS = 240
CURATE_COPIES = 5
# Commits per ingest round; the JVM program's Ingest workload uses the same.
INGEST_COMMITS_PER_ROUND = 3
INGEST_BATCH_ROWS = 4_000
INGEST_DAYS = 14


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table, path):
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, table.num_rows))


def _ts_us(seconds, tz=None):
    return pa.array((seconds * 1_000_000).astype(np.int64),
                    type=pa.timestamp("us", tz=tz))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


# ----------------------------------------------------------------- interactive

def _events(rng, n):
    ts = np.sort(EPOCH_2024 + rng.uniform(0, 30 * DAY, n))
    etype = rng.choice(EVENT_TYPES, n)
    # Not in the sf0.1 table, which the templates need: a few rows carry no
    # event_type (the dialect groups them under its `__nil` sentinel), and
    # `__sample_rate` weights the aggregates.
    etype = [None if m else e for e, m in zip(etype, rng.random(n) < 0.03)]
    rate = rng.choice([1.0, 1.0, 1.0, 1.0, 2.0, 5.0, 10.0], n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts_us(ts),
        "user_id": pa.array(rng.integers(0, 1500, n), type=pa.int64()),
        "event_type": pa.array(etype, type=pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        "__sample_rate": pa.array(rate),
    })


def _day_ts(rng, first, last, n):
    """Whole days drawn uniformly from `first` to `last`, both included."""
    lo, hi = (int((np.datetime64(d) - np.datetime64("1970-01-01")).astype(int))
              for d in (first, last))
    return _ts_us(rng.integers(lo, hi + 1, n).astype(np.int64) * DAY)


def _customer(rng, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n)),
    })


def _orders(rng, n, n_cust):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), type=pa.int64()),
        "o_orderstatus": pa.array(rng.choice(STATUSES, n)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n)),
        "o_orderdate": _day_ts(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def _lineitem(rng, n, n_orders):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000, n), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _day_ts(rng, "1995-01-02", "2001-11-04", n),
    })


# Epoch seconds of `ts` with its fraction, as the dialect's time bounds and
# windows read it; `w` is the row's sample-rate weight.
_EV = ("(SELECT *, epoch_us(ts) / 1e6 AS ep, "
       "coalesce(CAST(__sample_rate AS DOUBLE), 1.0) AS w FROM events)")


def _t_window(r):
    et = r.choice(EVENT_TYPES)
    g = int(r.choice([3600, 21600, 86400]))
    t0 = EPOCH_2024 + int(r.integers(0, 20)) * DAY
    t1 = t0 + int(r.integers(3, 10)) * DAY
    sql = (f"select sum(value), count(value), mean(value) where event_type = {et} "
           f"and $t_start = {t0} and $t_end = {t1} group by user_id granularity {g}")
    twin = (f"SELECT user_id, floor(ep / {g}) * {g} AS w_start, "
            f"floor(ep / {g}) * {g} + {g} AS w_end, "
            "sum(coalesce(value, 0) * w) AS s, "
            "sum(CASE WHEN value IS NOT NULL THEN w END) AS c, "
            "sum(value * w) / sum(CASE WHEN value IS NOT NULL THEN w END) AS m "
            f"FROM {_EV} WHERE event_type = '{et}' AND ep >= {t0} AND ep <= {t1} "
            "GROUP BY 1, 2, 3")
    return sql, twin, ["user_id", "w_start", "w_end", "sum_value",
                       "count_value", "mean_value"]


def _t_nil_extremes(r):
    thr = int(r.integers(5, 60))
    sql = (f"select max(value), min(value), count_distinct(user_id) "
           f"where value > {thr} group by event_type order by event_type")
    twin = ("SELECT coalesce(event_type, '__nil'), max(value), min(value), "
            f"count(DISTINCT user_id) FROM events WHERE value > {thr} GROUP BY 1")
    return sql, twin, ["event_type", "max_value", "min_value",
                       "count_distinct_user_id"]


def _t_top_groups(r):
    et = r.choice(EVENT_TYPES)
    k = int(r.choice([5, 10, 20]))
    sql = (f"select sum(value), count(value) where event_type = {et} "
           f"group by user_id order by sum(value) desc limit {k}")
    twin = ("SELECT user_id, sum(coalesce(value, 0) * w) AS s, "
            "sum(CASE WHEN value IS NOT NULL THEN w END) AS c "
            f"FROM {_EV} WHERE event_type = '{et}' GROUP BY 1 "
            f"ORDER BY s DESC, CAST(user_id AS VARCHAR) LIMIT {k}")
    return sql, twin, ["user_id", "sum_value", "count_value"]


def _t_limit_per(r):
    thr = int(r.integers(0, 100))
    k = int(r.choice([2, 3, 5]))
    sql = (f"select sum(value) as s where value > {thr} group by event_type, user_id "
           f"order by s desc limit {k} per event_type")
    twin = ("SELECT g, user_id, s FROM (SELECT g, user_id, s, row_number() OVER "
            "(PARTITION BY g ORDER BY s DESC, CAST(user_id AS VARCHAR)) AS rn FROM "
            "(SELECT coalesce(event_type, '__nil') AS g, user_id, "
            f"sum(coalesce(value, 0) * w) AS s FROM {_EV} WHERE value > {thr} "
            f"GROUP BY 1, 2)) WHERE rn <= {k}")
    return sql, twin, ["event_type", "user_id", "s"]


def _t_having(r):
    lo = int(r.integers(30, 60)) * 100
    hi = int(r.integers(200, 300))
    sql = (f"select sum(value), count(value) group by user_id "
           f"having sum(value) > {lo} and max(value) <= {hi} order by sum(value) desc")
    twin = ("SELECT user_id, sum(coalesce(value, 0) * w) AS s, "
            "sum(CASE WHEN value IS NOT NULL THEN w END) AS c "
            f"FROM {_EV} GROUP BY 1 "
            f"HAVING sum(coalesce(value, 0) * w) > {lo} AND max(value) <= {hi}")
    return sql, twin, ["user_id", "sum_value", "count_value"]


def _t_join(r):
    seg = r.choice(SEGMENTS)
    d1 = f"{int(r.integers(1996, 2001))}-0{int(r.integers(1, 10))}-01"
    d2 = f"{int(r.integers(1996, 2001))}-0{int(r.integers(1, 10))}-15"
    sql = ("select sum(l_extendedprice * (1 - l_discount)) as revenue, count(*) as n "
           "from lineitem join orders on l_orderkey = o_orderkey "
           "join customer on o_custkey = c_custkey "
           f"where c_mktsegment = '{seg}' and o_orderdate < '{d1}' "
           f"and l_shipdate > '{d2}' "
           "group by l_orderkey, o_orderdate order by revenue desc limit 10")
    twin = ("SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), "
            "sum(l_extendedprice * (1 - l_discount)) AS revenue, count(*) AS n "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            f"WHERE c_mktsegment = '{seg}' "
            f"AND o_orderdate < TIMESTAMP '{d1} 00:00:00' "
            f"AND l_shipdate > TIMESTAMP '{d2} 00:00:00' "
            "GROUP BY 1, 2 ORDER BY revenue DESC, CAST(l_orderkey AS VARCHAR) LIMIT 10")
    return sql, twin, ["l_orderkey", "o_orderdate", "revenue", "n"]


def _t_scalar_subquery(r):
    d = int(r.integers(0, 9)) / 100.0
    sql = ("select count(*) as n, sum(l_extendedprice) as rev from lineitem "
           "where l_quantity > (select mean(l_quantity) from lineitem "
           f"where l_discount >= {d}) group by l_returnflag order by rev desc")
    twin = ("SELECT l_returnflag, count(*), sum(l_extendedprice) FROM lineitem "
            "WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem "
            f"WHERE l_discount >= {d}) GROUP BY 1")
    return sql, twin, ["l_returnflag", "n", "rev"]


def _t_derived(r):
    x = int(r.integers(1, 40)) * 10000
    sql = ("select count(*) as custdist from (select count(*) as n from orders "
           f"where o_totalprice > {x} group by o_custkey order by n) "
           "group by n order by custdist desc, n desc")
    twin = ("SELECT n, count(*) FROM (SELECT o_custkey, count(*) AS n FROM orders "
            f"WHERE o_totalprice > {x} GROUP BY 1) GROUP BY 1")
    return sql, twin, ["n", "custdist"]


def _t_case_measures(r):
    x = int(r.integers(20, 150))
    sql = (f"select sum(ifnull(case when value > {x} then value end, 0)) as s1, "
           f"mean(nvl(case when value > {x} then 1 end, 0)) as heavy_rate, "
           "count(*) as n group by event_type order by event_type")
    twin = ("SELECT coalesce(event_type, '__nil'), "
            f"sum(CASE WHEN value > {x} THEN value ELSE 0 END * w), "
            f"sum(CASE WHEN value > {x} THEN 1 ELSE 0 END * w) / sum(w), "
            f"sum(w) FROM {_EV} GROUP BY 1")
    return sql, twin, ["event_type", "s1", "heavy_rate", "n"]


def _t_cte(r):
    x = int(r.integers(30, 48)) * 10000
    st = r.choice(STATUSES)
    m = int(r.integers(100, 2000))
    sql = ("with sel as (select o_orderkey, o_orderpriority, o_totalprice from orders "
           f"where o_totalprice > {x} union select o_orderkey, o_orderpriority, "
           f"o_totalprice from orders where o_orderstatus = '{st}'), "
           "per_pri as (select count(*) as n, sum(o_totalprice) as total from sel "
           "group by o_orderpriority) "
           f"select o_orderpriority, n, total from per_pri where n > {m} "
           "order by o_orderpriority")
    twin = ("WITH sel AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders "
            f"WHERE o_totalprice > {x} UNION SELECT o_orderkey, o_orderpriority, "
            f"o_totalprice FROM orders WHERE o_orderstatus = '{st}'), "
            "per_pri AS (SELECT o_orderpriority, count(*) AS n, "
            "sum(o_totalprice) AS total FROM sel GROUP BY 1) "
            f"SELECT o_orderpriority, n, total FROM per_pri WHERE n > {m}")
    return sql, twin, ["o_orderpriority", "n", "total"]


# name -> (render, api, tables). `run` statements bind the first table as
# the base frame; `catalog` statements resolve every table by name.
TEMPLATES = {
    "window": (_t_window, "run", ["events"]),
    "nil_extremes": (_t_nil_extremes, "run", ["events"]),
    "top_groups": (_t_top_groups, "run", ["events"]),
    "limit_per": (_t_limit_per, "run", ["events"]),
    "having": (_t_having, "run", ["events"]),
    "join": (_t_join, "catalog", ["lineitem", "orders", "customer"]),
    "scalar_subquery": (_t_scalar_subquery, "catalog", ["lineitem"]),
    "derived": (_t_derived, "catalog", ["orders"]),
    "case_measures": (_t_case_measures, "run", ["events"]),
    "cte": (_t_cte, "catalog", ["orders"]),
}


def statements(seed, rounds):
    """`rounds` rounds; each runs every template once, in a seeded order,
    with seeded literals. Round 0 is the untimed warm-up."""
    r = _rng(seed, 99)
    out = []
    for _ in range(rounds):
        rnd = []
        for name in r.permutation(sorted(TEMPLATES)):
            render, api, tables = TEMPLATES[name]
            sql, twin, cols = render(r)
            rnd.append({"template": str(name), "api": api, "tables": tables,
                        "sql": sql, "twin": twin, "cols": cols,
                        "input_rows": sum(INTERACTIVE_ROWS[t] for t in tables)})
        out.append(rnd)
    return out


def interactive(seed, out_dir, rounds=1):
    """Writes the tables and the warm-up round plus `rounds` measured rounds
    of statements."""
    n = INTERACTIVE_ROWS
    _write(_customer(_rng(seed, 1), n["customer"]), f"{out_dir}/customer.parquet")
    _write(_orders(_rng(seed, 2), n["orders"], n["customer"]),
           f"{out_dir}/orders.parquet")
    _write(_lineitem(_rng(seed, 3), n["lineitem"], n["orders"]),
           f"{out_dir}/lineitem.parquet")
    _write(_events(_rng(seed, 4), n["events"]), f"{out_dir}/events.parquet")
    with open(f"{out_dir}/statements.json", "w") as f:
        json.dump(statements(seed, rounds + 1), f, indent=1, sort_keys=True)


# --------------------------------------------------------------------- curate

# Function words per language: the lists the engine's language-ID heuristic
# scores (graft.functions.TextFunctions.langStopwords), so `langid` and the
# stopword half of `quality` see text with real function-word rates.
STOPWORDS = {
    "en": "the a of and to in is it that for".split(),
    "es": "el la de los las y en que un una".split(),
    "de": "der die das und ist von ein eine zu mit".split(),
    "fr": "le la les des et un une est dans pour".split(),
    "zh": "de shi bu le zai you wo ta men zhe".split(),
}
CONTENT_TERMS = 6000     # content-word vocabulary shared by all languages
ZIPF_S = 1.1             # term-frequency exponent of the content words
STOPWORD_SHARE = 0.3     # function words among a sentence's tokens
BOILERPLATE_PHRASES = 120
BOILERPLATE_SHARE = 0.12  # sentences copied from the boilerplate pool
SPAM_SHARE = 0.04        # punctuation soup and one-word repetition


def _zipf_p(n, s):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _vocabulary():
    """CONTENT_TERMS distinct pronounceable words, and each language's Zipf
    ranking of them. Fixed, not seeded: the language stays the same and
    the seed only changes the documents written in it."""
    r = _rng(0, 11)
    onsets = list("bcdfghklmnprstvz") + ["br", "ch", "st", "tr", "pl", "gr", "sh"]
    vowels = list("aeiou") + ["ai", "ou", "ea"]
    stop = {w for ws in STOPWORDS.values() for w in ws}
    words, seen = [], set()
    while len(words) < CONTENT_TERMS:
        w = "".join(str(r.choice(onsets)) + str(r.choice(vowels))
                    for _ in range(int(r.integers(1, 4))))
        if r.random() < 0.5:
            w += str(r.choice(list("nrslt")))
        if w not in seen and w not in stop:
            seen.add(w)
            words.append(w)
    return np.array(words), {lang: r.permutation(CONTENT_TERMS) for lang in STOPWORDS}


class TextModel:
    """Single-space word soup with the statistics the curate operators
    depend on: Zipf-distributed content words over thousands of terms,
    function words at natural rates, sentence punctuation, a pool of
    boilerplate sentences shared across documents (so repeated spans and
    benchmark contamination exist), and a few spam documents."""

    def __init__(self, rng):
        self.rng = rng
        self.words, self.rank = _vocabulary()
        self.p_content = _zipf_p(CONTENT_TERMS, ZIPF_S)
        self.p_stop = _zipf_p(10, 1.0)
        self.p_phrase = _zipf_p(BOILERPLATE_PHRASES, 1.0)
        langs = list(STOPWORDS)
        self.phrases = [self._sentence(str(rng.choice(langs)), int(rng.integers(8, 15)))
                        for _ in range(BOILERPLATE_PHRASES)]

    def _sentence(self, lang, n):
        r = self.rng
        stop = r.random(n) < STOPWORD_SHARE
        content = self.words[self.rank[lang][r.choice(CONTENT_TERMS, n, p=self.p_content)]]
        fw = np.array(STOPWORDS[lang])[r.choice(10, n, p=self.p_stop)]
        toks = np.where(stop, fw, content).tolist()
        if n > 4 and r.random() < 0.3:
            toks[int(r.integers(1, n - 1))] += ","
        toks[-1] += "." if r.random() < 0.85 else "?"
        return " ".join(toks)

    def document(self, lang, n_words):
        r = self.rng
        if r.random() < SPAM_SHARE:
            if r.random() < 0.5:
                return " ".join(["!!!", "...", "??", "$$$"][int(i)]
                                for i in r.integers(0, 4, max(4, n_words // 3)))
            return " ".join([str(r.choice(self.words[:50]))] * n_words)
        out, have = [], 0
        while have < n_words:
            if r.random() < BOILERPLATE_SHARE:
                s = self.phrases[int(r.choice(BOILERPLATE_PHRASES, p=self.p_phrase))]
            else:
                s = self._sentence(lang, int(r.integers(5, 19)))
            out.append(s)
            have += s.count(" ") + 1
        return " ".join(out)

    def edit(self, lang, text):
        """A near duplicate: one to three word substitutions, deletions or
        insertions."""
        r = self.rng
        words = text.split(" ")
        for _ in range(int(r.integers(1, 4))):
            i = int(r.integers(0, len(words)))
            op = int(r.integers(0, 3))
            if op == 1 and len(words) > 8:
                del words[i]
            else:
                w = str(self.words[self.rank[lang][r.choice(CONTENT_TERMS, p=self.p_content)]])
                if op == 0:
                    words[i] = w
                else:
                    words.insert(i, w)
        return " ".join(words)


# The registry rows whose statements the curate workload runs.
CURATE_ROWS = ["p17_sql_neardup", "p51_sql_dedup", "p52_sql_decontaminate",
               "p53_sql_quality", "p16_sql_similar", "p10_sql_spans",
               "p56_sql_langid", "p47_sql_chunks"]


def curate(seed, out_dir, rounds=1):
    """Writes the corpus and, per round, the seeded statement order."""
    order = _rng(seed, 7)
    with open(f"{out_dir}/order.json", "w") as f:
        json.dump([[str(n) for n in order.permutation(CURATE_ROWS)]
                   for _ in range(rounds)], f, indent=1)
    rng = _rng(seed, 5)
    model = TextModel(rng)
    base = []
    for _ in range(CURATE_BASE_DOCS):
        lang = str(rng.choice(LANGS, p=LANG_P))
        base.append((model.document(lang, int(rng.integers(8, 76))), lang))
    texts, langs = [], []
    for copy in range(CURATE_COPIES):
        for text, lang in base:
            if copy > 0:
                u = rng.random()
                if u < 0.1:
                    text = model.edit(lang, text)   # near duplicate
                elif u < 0.8:                       # unrelated document
                    text = model.document(lang, int(rng.integers(8, 76)))
                # else: exact duplicate
            texts.append(text)
            langs.append(lang)
    n = len(texts)
    # fresh ids: copies never reuse a base id, and ids are not in corpus order
    ids = rng.permutation(n).astype(np.int64) + 1000 * (1 + seed % 1000)
    _write(pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), f"{out_dir}/documents.parquet")
    return n


# --------------------------------------------------------------------- ingest

def ingest(seed, out_dir, rounds=1, rows=INGEST_BATCH_ROWS):
    """Writes the event files of the warm-up round and `rounds` measured
    rounds under out_dir/batches, the reads that follow each commit to
    out_dir/reads.json and the running tally after each batch to
    out_dir/tally.json."""
    batches = INGEST_COMMITS_PER_ROUND * (rounds + 1)
    reads = _rng(seed, 8)
    with open(f"{out_dir}/reads.json", "w") as f:
        json.dump([ingest_reads(reads) for _ in range(batches)], f, indent=1)
    rng = _rng(seed, 6)
    os.makedirs(f"{out_dir}/batches", exist_ok=True)
    tally = []
    count, sums, ids = 0, {t: 0 for t in EVENT_TYPES}, 0
    input_bytes = 0
    for b in range(batches):
        # skewed toward recent days: most events land in the last week,
        # but every batch still touches many date partitions
        age = np.minimum(rng.exponential(5.0, rows), INGEST_DAYS - 1e-6)
        ts = EPOCH_2024 + INGEST_DAYS * DAY - age * DAY
        etype = rng.choice(EVENT_TYPES, rows)
        cents = rng.integers(1, 50000, rows)
        table = pa.table({
            "event_id": pa.array(np.arange(b * rows, (b + 1) * rows, dtype=np.int64)),
            "ts": _ts_us(ts, tz="UTC"),
            "user_id": pa.array(rng.integers(1, 2001, rows), type=pa.int64()),
            "event_type": pa.array(etype),
            "value": pa.array(cents / 100.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
        })
        path = f"{out_dir}/batches/batch-{b:05d}.parquet"
        _write(table, path)
        input_bytes += os.path.getsize(path)
        count += rows
        ids += rows
        for t in EVENT_TYPES:
            sums[t] += int(cents[etype == t].sum())
        tally.append({"batch": b, "rows": count, "distinct_ids": ids,
                      "sum_cents": dict(sums), "input_bytes": input_bytes})
    with open(f"{out_dir}/tally.json", "w") as f:
        json.dump(tally, f, indent=1, sort_keys=True)


def ingest_reads(rng):
    """The two reads that follow one commit: per-type windowed sums over
    seeded spans of the most recent days."""
    t1 = EPOCH_2024 + INGEST_DAYS * DAY
    reads = []
    for days in rng.choice([2, 3, 5, 7, 10], 2, replace=False):
        t0 = t1 - int(days) * DAY
        reads.append({"template": "recent", "t0": t0, "t1": t1,
                      "cols": ["event_type", "w_start", "w_end", "sum_value", "count_value"],
                      "sql": (f"select sum(value), count(value) where $t_start = {t0} "
                              f"and $t_end = {t1} group by event_type granularity 86400")})
    return reads


GENERATORS = {"interactive": interactive, "curate": curate, "ingest": ingest}
