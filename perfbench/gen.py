"""Seeded input generator for the crawl-tick workloads.

One process, one seed: writes the parquet inputs FrontierMain reads
(`--listings=` with a `tick` column, `--pages=`, `--sources=`,
`--robots=`) for the reference registry shape: ~107 sources listing 30
items per tick newest-first, one mega-host source listing 20x as much,
list/save caps of 2-20, ~12% intra-batch duplicates, ~5% blank titles,
~6% robots-disallowed URLs and ~3% fetch errors.

URLs are generated canonical first, then dirtied only in ways the
canonicalizer removes (host case, utm_* params, query order, fragment),
so the page table can be keyed by the canonical form without calling the
program under test.

    python3 perfbench/gen.py --seed 7 --ticks 3 --out /tmp/inputs
"""
import argparse
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

N_SOURCES = 107
ITEMS_PER_TICK = 30
NEW_PER_TICK = 15
MEGA_FACTOR = 20
PRE_PUBLISHED = 6
LANGS = ["en", "zh-CN", "zh-HK"]
CATEGORIES = ["economy", "tech", "property", "video"]


def _host_pool(rng, n):
    tlds = ["com", "org", "net", "io", "dev", "com.hk"]
    words = ["news", "daily", "wire", "market", "tech", "finance", "post",
             "herald", "times", "feed", "blog", "journal"]
    hosts = set()
    while len(hosts) < n:
        hosts.add("%s.%s-%s.example.%s" % (
            rng.choice(["www", "news", "cn", "m", "feeds"]),
            rng.choice(words), rng.choice(words), rng.choice(tlds)))
    return sorted(hosts)


def _case_variant(rng, host):
    r = rng.randrange(3)
    if r == 0:
        return host.upper()
    if r == 1:
        return "".join(c.upper() if rng.random() < 0.3 else c for c in host)
    return host


class Registry:
    """Article-keyed properties are pure functions of (seed, source, g), so
    an article re-listed on a later tick keeps one canonical identity while
    its listing occurrence carries fresh noise."""

    def __init__(self, seed):
        self.seed = seed
        rng = random.Random(seed * 7919 + 1)
        hosts = _host_pool(rng, 40)
        self.mega = rng.randrange(N_SOURCES)
        self.mega_host = "mega.megaportal.example.com"
        self.sources = []
        for i in range(N_SOURCES):
            self.sources.append(dict(
                source="src-%03d" % i,
                source_idx=i,
                dedup_policy=rng.choice(["stop_at_first_seen",
                                         "skip_and_continue"]),
                list_cap=rng.randint(2, 20),
                save_cap=rng.randint(2, 20),
                crawl_delay_ms=rng.choice([0, 0, 500, 1000]),
                language=rng.choice(LANGS),
                kind=2 if rng.randrange(8) == 0 else 1,
                host=self.mega_host if i == self.mega else rng.choice(hosts)))
        self.hosts = sorted(set(s["host"] for s in self.sources))
        self.host_delay = {h: rng.choice([0, 0, 250, 2000]) for h in self.hosts}

    def new_per_tick(self, i):
        return NEW_PER_TICK * (MEGA_FACTOR if i == self.mega else 1)

    def items_per_tick(self, i):
        return ITEMS_PER_TICK * (MEGA_FACTOR if i == self.mega else 1)

    def published_at(self, i, tick):
        return PRE_PUBLISHED + (tick + 1) * self.new_per_tick(i)

    def article(self, i, g):
        r = random.Random(hash((self.seed, 11, i, g)))
        art_id = r.getrandbits(40)
        root = "private" if r.randrange(16) == 0 else "articles"
        params = []
        if r.randrange(2) == 0:
            params.append("id=%d" % art_id)
            params.append("lang=%s" % r.choice(LANGS))
        if r.randrange(4) == 0:
            params.append("ref=home")
        params.sort()
        host = self.sources[i]["host"]
        canonical = "https://%s/%s/a%d" % (host, root, art_id)
        if params:
            canonical += "?" + "&".join(params)
        blank = r.randrange(20) == 0
        title = "" if blank else "Title %d of src-%03d article %d" % (
            r.getrandbits(20), i, g)
        return dict(host=host, root=root, art_id=art_id, params=params,
                    canonical=canonical, title=title,
                    category=r.choice(CATEGORIES),
                    status=403 if r.randrange(33) == 0 else 200,
                    image=r.randrange(1000))

    def dirty(self, art, tick, j):
        r = random.Random(hash((self.seed, 17, art["art_id"], tick, j)))
        params = list(art["params"])
        if r.randrange(3) == 0:
            params.insert(r.randrange(len(params) + 1), "utm_source=feed")
            params.append("utm_medium=rss")
        if r.randrange(2) == 0:
            params.reverse()
        url = "https://%s/%s/a%d" % (_case_variant(r, art["host"]),
                                     art["root"], art["art_id"])
        if params:
            url += "?" + "&".join(params)
        if r.randrange(3) == 0:
            url += "#section-2"
        return url

    def listing(self, tick):
        rows = []
        for s in self.sources:
            i = s["source_idx"]
            published = self.published_at(i, tick)
            r = random.Random(hash((self.seed, 23, i, tick)))
            for j in range(self.items_per_tick(i)):
                dup = j > 0 and r.randrange(8) == 0
                g = published - 1 - j + (1 if dup else 0)
                if g < 0:
                    continue
                art = self.article(i, g)
                rows.append(dict(
                    source=s["source"], page_idx=j // 25, item_idx=j,
                    url=self.dirty(art, tick, j), title=art["title"],
                    ts_text="%d mins ago" % (1 + r.randrange(59)),
                    category=art["category"], tick=tick))
        return rows

    def pages(self, max_tick):
        rows = {}
        for s in self.sources:
            i = s["source_idx"]
            for g in range(self.published_at(i, max_tick)):
                art = self.article(i, g)
                rows[art["canonical"]] = dict(
                    canonical_url=art["canonical"],
                    image_id="img-%08d" % art["image"],
                    caption="caption of img-%08d" % art["image"],
                    fetch_cost_ms=50 + art["image"] % 450,
                    status=art["status"])
        return [rows[k] for k in sorted(rows)]

    def robots(self):
        rows = []
        for h in self.hosts:
            rows.append(dict(host=h, path_prefix="/", allow=True,
                             crawl_delay_ms=self.host_delay[h]))
            rows.append(dict(host=h, path_prefix="/private", allow=False,
                             crawl_delay_ms=0))
        return rows


I32 = pa.int32()
SCHEMAS = {
    "listings": pa.schema([("source", pa.string()), ("page_idx", I32),
                           ("item_idx", I32), ("url", pa.string()),
                           ("title", pa.string()), ("ts_text", pa.string()),
                           ("category", pa.string()), ("tick", I32)]),
    "pages": pa.schema([("canonical_url", pa.string()),
                        ("image_id", pa.string()), ("caption", pa.string()),
                        ("fetch_cost_ms", I32), ("status", I32)]),
    "sources": pa.schema([("source", pa.string()), ("source_idx", I32),
                          ("dedup_policy", pa.string()), ("list_cap", I32),
                          ("save_cap", I32), ("crawl_delay_ms", I32),
                          ("language", pa.string()), ("kind", I32)]),
    "robots": pa.schema([("host", pa.string()), ("path_prefix", pa.string()),
                         ("allow", pa.bool_()), ("crawl_delay_ms", I32)]),
}


def _write(rows, name, out):
    schema = SCHEMAS[name]
    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, os.path.join(out, name + ".parquet"))
    return table.num_rows


def generate(seed, ticks, out):
    """Writes the four inputs under `out`; returns their row counts."""
    os.makedirs(out, exist_ok=True)
    reg = Registry(seed)
    listing = [row for t in range(ticks) for row in reg.listing(t)]
    sizes = {
        "listings": _write(listing, "listings", out),
        "pages": _write(reg.pages(ticks - 1), "pages", out),
        "sources": _write(reg.sources, "sources", out),
        "robots": _write(reg.robots(), "robots", out),
    }
    sizes["listing_rows_per_tick"] = [
        sum(1 for r in listing if r["tick"] == t) for t in range(ticks)]
    sizes["hosts"] = len(reg.hosts)
    return sizes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ticks", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(generate(a.seed, a.ticks, a.out))


if __name__ == "__main__":
    main()
