"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of (seed, size):

* ``write_tables`` writes the star schema the query workloads read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings) as parquet, with the column names, physical
  types and value shapes of the engine's TPC-H-style test data.
* ``ListingRuns`` writes rumah123-style listing-card HTML pages, one
  directory per region-run, and keeps the last-writer-wins table the pages
  must load to, computed from the generator's own values (never by
  parsing its HTML).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "steel"]
PART_NOUN = ["bolt", "gear", "nut", "pipe", "plate", "ring", "screw", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DIM = 64


def _ts(days_from, day_span, rng, n, sort=False, with_time=False):
    base = np.datetime64(days_from, "us")
    if with_time:
        off = rng.integers(0, day_span * 86_400_000_000, n)
        if sort:
            off.sort()
        return base + off.astype("timedelta64[us]")
    return base + (rng.integers(0, day_span, n) * 86_400_000_000).astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir, seed, sf):
    """Write every table at scale factor ``sf`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_evt, n_user = int(1_000_000 * sf), max(int(15_000 * sf), 10)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    i32, i64 = pa.int32(), pa.int64()
    put("region", {"r_regionkey": pa.array(range(5), i32),
                   "r_name": pa.array(REGIONS)})
    put("nation", {"n_nationkey": pa.array(range(25), i32),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    names = np.array([f"{a} {n}" for a in PART_ADJ for n in PART_NOUN])
    put("part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_ts("1995-01-01", 2404, rng, n_ord), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(_ts("1995-01-02", 2498, rng, n_line), pa.timestamp("us"))})
    put("events", {
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(_ts("2024-01-01", 30, rng, n_evt, sort=True, with_time=True),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
        "value": np.round(rng.gamma(2.0, 40.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})
    # documents: bags of words over a small vocabulary; 5% are near
    # duplicates of an earlier document (its text plus " dup"), so the
    # dedup operators have true positives to find
    texts = []
    lens = rng.integers(10, 101, n_doc)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    pos = 0
    for ln in lens:
        texts.append(" ".join(words[pos:pos + ln]))
        pos += ln
    dup = np.flatnonzero(rng.random(n_doc) < 0.05)
    src = rng.integers(0, n_doc, len(dup))
    for d, s in zip(dup, src):
        if s != d:
            texts[d] = texts[s] + " dup"
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    # embeddings: unit vectors with a weak per-label direction
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(size=(10, DIM))
    x = rng.normal(size=(n_emb, DIM)) + 0.6 * centroids[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


# ---- listing pages -------------------------------------------------------

ADMINS = ["Jakarta Barat", "Jakarta Selatan", "Jakarta Timur", "Tangerang"]
OTHER_PLACES = ["Bandung, Jawa Barat", "Bogor Kota", "Depok"]
DISTRICTS = ["Kebon Jeruk", "Tebet", "Cengkareng", "Ciputat", "Kemang"]
FEATURES = ["Carport", "Garasi", "Taman", "Kolam", "Dapur", "Gudang"]
# unit name, multiplier, decimals shown
UNITS = [("Triliun", 10**12, 1), ("Miliar", 10**9, 1), ("Juta", 10**6, 0),
         ("Ribu", 10**3, 0), ("", 1, 0)]


def _price(rng):
    """(rendered price text, expected rupiah or None)."""
    r = rng.random()
    if r < 0.04:
        return "Rp abc Miliar", None
    if r < 0.07:
        return None, None
    unit, mult, dec = UNITS[int(rng.integers(0, len(UNITS)))]
    if unit == "":
        v = int(rng.integers(100_000, 900_000_000))
        return f"Rp {v}", v
    tenths = int(rng.integers(10, 999)) if dec else int(rng.integers(1, 999)) * 10
    whole, frac = divmod(tenths, 10)
    txt = f"{whole},{frac}" if dec else str(whole)
    return f"Rp {txt} {unit}", tenths * mult // 10


def _size(rng, tag):
    r = rng.random()
    if r < 0.05:
        return "tidak ada angka", None
    if r < 0.08:
        return None, None
    v = int(rng.integers(20, 900))
    return (f"{tag}: {v} m²" if r < 0.5 else f"{v} m²"), v


def _count(rng):
    if rng.random() < 0.05:
        return "-", None
    v = int(rng.integers(0, 9))
    return str(v), v


class ListingRuns:
    """Consecutive region-runs of listing pages, as the reference
    scrapes them: each run fetches ``PAGES`` pages of ``PER_PAGE``
    cards for one region, newest first, and a day holds ``REGIONS``
    runs, one per region. These are the reference's own configuration:
    20 pages a run (``num_pages``), about 20 cards a page, 6
    region-runs a day (its cron lines).

    Two kinds of share are not measured anywhere in the reference and
    are chosen here, not derived:

    * ``RESCRAPE``: the share of a run's cards that are listings the
      same region's earlier runs already saw, now at new values. A
      newest-first scrape of a fixed window sees such repeats when a
      region posts fewer listings a day than the window holds; the
      reference records no posting rate. At 0.3, every run after a
      region's first both inserts and updates, so both branches of the
      MERGE run.
    * the defect rates: 2% of cards without a link; 3% repeating a link
      already in the run (the first wins); per field, 4-5% unparseable
      and 3% missing prices and sizes, 5% unparseable room counts; 15%
      outside the admin list.
      They are small, so most cards land, and large enough that every
      run exercises each cleaning branch of Extract and Transform.
    """

    PAGES, PER_PAGE, REGIONS, RESCRAPE = 20, 20, 6, 0.3

    def __init__(self, seed):
        self.seed = seed
        self.runs = []           # per run: link -> row in the table's column order
        self.run_counts = []     # (inserted, updated) per run
        self._seen = [[] for _ in range(self.REGIONS)]  # per region, in first-seen order
        self._next_id = 0

    def _card(self, rng, link_id):
        price_txt, price = _price(rng)
        lot_txt, lot = _size(rng, "LT")
        bld_txt, bld = _size(rng, "LB")
        counts = [_count(rng) for _ in range(3)]
        feats = [FEATURES[i] for i in sorted(rng.choice(len(FEATURES), int(rng.integers(0, 4)), replace=False))]
        if rng.random() < 0.85:
            place = f"{DISTRICTS[int(rng.integers(0, len(DISTRICTS)))]}, {ADMINS[int(rng.integers(0, len(ADMINS)))]}"
            location = place
        else:
            place, location = OTHER_PLACES[int(rng.integers(0, len(OTHER_PLACES)))], ""
        name = f"Rumah {int(rng.integers(1, 99))} Lantai di {place.split(',')[0]}"
        href = f"/properti/{link_id % 97}/hos{link_id}/"
        parts = ['<div class="card-featured__middle-section">',
                 f'<a class="ui-atomic-link quick-label-badge" href="/promo/{link_id}">Promo</a>',
                 f'<a title="{name}" href="{href}"><h2 class="card-title">{name}</h2></a>']
        if price_txt is not None:
            parts.append('<div class="card-featured__middle-section__price">'
                         f'<strong> {price_txt} </strong></div>')
        parts.append(f"<span>{place}</span>")
        for txt in (lot_txt, bld_txt):
            if txt is not None:
                parts.append(f'<div class="attribute-info">{txt}</div>')
        parts += [f'<span class="attribute-text">{c[0]}</span>' for c in counts]
        badge = "Rumah" + "".join(feats)
        parts.append(f'<div class="card-featured__middle-section__header-badge">{badge}</div>')
        parts.append("</div></div>")
        # sizes are picked by position: a missing lot size shifts the
        # building size into the lot column, as the parser reads it
        sizes = [v for t, v in ((lot_txt, lot), (bld_txt, bld)) if t is not None] + [None, None]
        row = ["rumah123.com" + href, "jual", "rumah", name, location, sizes[0], sizes[1],
               counts[0][1], counts[1][1], counts[2][1], ", ".join(feats), price]
        return "\n".join(parts), row

    def write_run(self, run, out_dir):
        """Write region-run ``run`` (1-based, in order) as page-N.html
        files and record the rows it must load. Returns the number of
        cards."""
        rng = np.random.default_rng([self.seed, 2, run])
        known = self._seen[(run - 1) % self.REGIONS]
        cards, this_run = [], {}
        for _ in range(self.PAGES * self.PER_PAGE):
            r = rng.random()
            if r < 0.02:  # no link: dropped by the null-key filter
                html, _row = self._card(rng, 10**9 + self._next_id)
                html = html.replace('href="/properti/', 'data-x="/properti/')
                cards.append(html)
                continue
            if r < 0.05 and this_run:  # same link again in this run: first wins
                link_id = list(this_run)[int(rng.integers(0, len(this_run)))]
            elif r < 0.05 + self.RESCRAPE and known:
                link_id = known[int(rng.integers(0, len(known)))]
            else:
                link_id = self._next_id
                self._next_id += 1
            html, row = self._card(rng, link_id)
            cards.append(html)
            this_run.setdefault(link_id, row)
        os.makedirs(out_dir, exist_ok=True)
        for p in range(0, len(cards), self.PER_PAGE):
            with open(os.path.join(out_dir, f"page-{p // self.PER_PAGE + 1}.html"), "w",
                      encoding="utf-8") as f:
                f.write("<html><body><div class=\"listing\">\n")
                f.write("\n".join(cards[p:p + self.PER_PAGE]))
                f.write("\n</div></body></html>\n")
        seen = set(known)
        new = [i for i in this_run if i not in seen]
        known.extend(new)
        self.run_counts.append((len(new), len(this_run) - len(new)))
        self.runs.append({row[0]: row for row in this_run.values()})
        return len(cards)

    def expected_after(self, k):
        """(link -> row, link -> run that last wrote it) after runs 1..k."""
        table, last = {}, {}
        for d, rows in enumerate(self.runs[:k], 1):
            table.update(rows)
            last.update(dict.fromkeys(rows, d))
        return table, last
