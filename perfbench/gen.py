"""Seeded input generators for the perfbench workloads.

Everything here is a pure function of its arguments: the same seed gives
byte-identical files, another seed gives different bytes of the same shape
(`python3 perfbench/gen.py --selfcheck` proves both).

Market raw files, one file per (dataset, day, revision):
  * ESIOS precios batch (UTF-8 CSV): every mapped indicator at either
    "Hora" or "Quince minutos" granularity, plus non-Espana geo rows that
    the transform's geo filter must drop.
  * I90 wide volumes sheet (";" CSV): one row per (UP, Sentido,
    Redespacho), one column per local hour label, so a 23-hour DST day has
    23 labels ("02-03" is missing) and a 25-hour day has "02-03a"/"02-03b".
    Zero and empty cells exercise the prune step.
  * OMIE diario CSV: latin-1 bytes, a two-line preamble, European decimals
    ("1.234,56"), offered (O) rows that the matched filter drops and blank
    rows that the empty-row clean drops.
A revision > 0 is a re-delivery of the same day with some values changed.
Some OMIE units mirror an I90 unit's hourly total, so the UP/UOF linking
step finds exact profile matches.

Corpus (parquet, the documents/embeddings schema of the repo's testdata):
distinct texts arranged in short near-duplicate edit chains (each link one
or two word substitutions), every text copied a fixed number of times under
scattered doc ids, plus 64-dim embeddings with near-duplicate groups.
"""
import datetime as dt
import hashlib
import io
import json
import os
import sys
import zoneinfo

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MADRID = zoneinfo.ZoneInfo("Europe/Madrid")
UTC = dt.timezone.utc

# the diario (600) and intra-session (612-618) price indicators
INDICATORS = [600, 612, 613, 614, 615, 616, 617, 618]
# (Sentido, Redespacho) combinations an UP may carry; the last is not one of
# the transform's market legs and is filtered out
I90_COMBOS = [("Subir", "Terciaria"), ("Bajar", "Terciaria"),
              ("Subir", "UPLPVPV"), ("Bajar", "UPLPVPCBN"),
              ("Subir", "Secundaria")]
I90_KEPT = 4  # the first four combos map to market ids 3, 4, 10, 11


def _rng(*key):
    return np.random.default_rng([int(k) for k in key])


def local_hours(day):
    """UTC start of every local hour of a Madrid calendar day, with the
    I90 label of that hour (23, 24 or 25 entries)."""
    start = dt.datetime(day.year, day.month, day.day, tzinfo=MADRID)
    nxt = start + dt.timedelta(days=1)
    nxt = dt.datetime(nxt.year, nxt.month, nxt.day, tzinfo=MADRID)
    u0, u1 = start.astimezone(UTC), nxt.astimezone(UTC)
    n = int((u1 - u0).total_seconds() // 3600)
    out = []
    for i in range(n):
        u = u0 + dt.timedelta(hours=i)
        loc = u.astimezone(MADRID)
        h = loc.hour
        label = f"{h:02d}-{h + 1:02d}"
        if n == 25 and h == 2:
            label += "a" if loc.utcoffset() == dt.timedelta(hours=2) else "b"
        out.append((u.replace(tzinfo=None), label))
    return out


def _eu(x):
    """1234.5 -> '1.234,50' (European thousands and decimal separators)."""
    s = f"{x:,.2f}"
    return s.replace(",", "_").replace(".", ",").replace("_", ".")


def unit_names(n_up, n_uof):
    ups = [f"UP{i:04d}" for i in range(n_up)]
    uofs = [f"UOF{i:04d}" for i in range(n_uof)]
    return ups, uofs


def _up_combos(seed, n_up):
    """Per UP: the combos it bids in (stable across days)."""
    r = _rng(seed, 7)
    out = []
    for _ in range(n_up):
        k = int(r.integers(2, 5))
        out.append(sorted(r.choice(len(I90_COMBOS), size=k, replace=False)))
    return out


def _i90_values(seed, day, n_up, rev):
    """(combo-major) volumes [n_up, 5, hours] with zeros and NaN holes."""
    hours = local_hours(day)
    r = _rng(seed, day.toordinal(), 1)
    v = np.round(r.uniform(0.0, 400.0, size=(n_up, len(I90_COMBOS), len(hours))), 2)
    v[r.random(v.shape) < 0.08] = 0.0
    v[r.random(v.shape) < 0.04] = np.nan
    if rev:
        rr = _rng(seed, day.toordinal(), 1, rev)
        bump = rr.random(v.shape) < 0.3
        v = np.where(bump & ~np.isnan(v),
                     np.round(v + rr.uniform(1.0, 50.0, size=v.shape), 2), v)
    return hours, v


def i90_csv(seed, day, n_up, rev=0):
    hours, v = _i90_values(seed, day, n_up, rev)
    combos = _up_combos(seed, n_up)
    ups, _ = unit_names(n_up, 0)
    buf = io.StringIO()
    buf.write(";".join(["Unidad de Programación", "fecha", "Sentido",
                        "Redespacho", "granularity"] + [l for _, l in hours]))
    buf.write("\n")
    for u in range(n_up):
        for c in combos[u]:
            sent, red = I90_COMBOS[c]
            cells = ["" if np.isnan(x) else f"{x:.2f}" for x in v[u, c]]
            buf.write(";".join([ups[u], day.isoformat(), sent, red, "Hora"] + cells))
            buf.write("\n")
    return buf.getvalue().encode("utf-8")


def omie_csv(seed, day, n_up, n_uof, rev=0):
    """OMIE diario file. UOF i < n_mirror sells exactly UP i's kept I90
    volume each hour (the linking step's exact matches)."""
    hours = local_hours(day)
    _, iv = _i90_values(seed, day, n_up, 0)
    combos = _up_combos(seed, n_up)
    _, uofs = unit_names(0, n_uof)
    n_mirror = min(n_up, n_uof) // 4
    r = _rng(seed, day.toordinal(), 2)
    rr = _rng(seed, day.toordinal(), 2, rev)
    lines = ["OMIE - Mercado de electricidad;;;;;",
             f"Sesión del día {day.strftime('%d/%m/%Y')};;;;;"]
    for k in range(n_uof):
        for i, _ in enumerate(hours):
            hora = i + 1
            if k < n_mirror:
                kept = [iv[k, c, i] for c in combos[k] if c < I90_KEPT]
                e = round(float(np.nansum(kept)), 2)
                if e == 0:
                    continue
                tipo = "V"
            else:
                e = round(float(r.uniform(0.5, 900.0)), 2)
                tipo = "C" if r.random() < 0.4 else "V"
            if rev and rr.random() < 0.3:
                e = round(e + float(rr.uniform(1.0, 40.0)), 2)
            lines.append(f"{day.isoformat()};{uofs[k]};{_eu(e)};C;{tipo};{hora}")
            if r.random() < 0.2:  # an unmatched offer the filter drops
                lines.append(f"{day.isoformat()};{uofs[k]};"
                             f"{_eu(float(r.uniform(1, 900)))};O;{tipo};{hora}")
        if r.random() < 0.05:
            lines.append(";;;;;")
    return ("\r\n".join(lines) + "\r\n").encode("latin-1")


def esios_csv(seed, day, rev=0):
    hours = local_hours(day)
    r = _rng(seed, day.toordinal(), 3)
    rr = _rng(seed, day.toordinal(), 3, rev)
    quarter = r.random(len(INDICATORS)) < 0.5
    lines = ["datetime_utc,value,indicador_id,granularidad,geo_name"]
    for j, ind in enumerate(INDICATORS):
        stamps = [u + dt.timedelta(minutes=15 * q) for u, _ in hours
                  for q in (range(4) if quarter[j] else range(1))]
        ts = [t.strftime("%Y-%m-%d %H:%M:%S") for t in stamps]
        v = np.round(r.uniform(20.0, 120.0) + r.normal(0.0, 15.0, size=len(ts)), 2)
        if rev:
            v = np.where(rr.random(len(ts)) < 0.3, np.round(v + 5.0, 2), v)
        foreign = r.random(len(ts)) < 0.1  # foreign geo rows: the geo filter drops them
        other = np.where(r.random(len(ts)) < 0.5, "Portugal", "Francia")
        gran = "Quince minutos" if quarter[j] else "Hora"
        for i, t in enumerate(ts):
            lines.append(f"{t},{v[i]:.2f},{ind},{gran},España")
            if foreign[i]:
                lines.append(f"{t},{v[i] + 1.0:.2f},{ind},{gran},{other[i]}")
    return ("\n".join(lines) + "\n").encode("utf-8")


DATASETS = ("esios", "i90", "omie")


def market_file(seed, ds, day, rev, n_up, n_uof):
    if ds == "esios":
        return esios_csv(seed, day, rev)
    if ds == "i90":
        return i90_csv(seed, day, n_up, rev)
    return omie_csv(seed, day, n_up, n_uof, rev)


def etl_schedule(seed, days, redeliver_share=0.15):
    """Closed-loop leg order, one entry per simulated day: that day's three
    legs plus re-deliveries (a higher revision in a later batch) of the day
    before, or of the same day on the first day, so that about
    `redeliver_share` of all legs re-deliver. The shape of the schedule does
    not depend on the seed; the seed only changes the files' contents."""
    primary = len(days) * len(DATASETS)
    n_re = max(1, int(round(primary * redeliver_share / (1.0 - redeliver_share))))
    # spread the re-deliveries evenly; the datasets take turns, I90 first
    slots = [int(j * len(days) / n_re) for j in range(n_re)]
    out = []
    batch = 0
    for k, day in enumerate(days):
        legs = [{"ds": ds, "day": day.isoformat(), "rev": 0} for ds in DATASETS]
        for j in (j for j, slot in enumerate(slots) if slot == k):
            legs.append({"ds": DATASETS[(j + 1) % len(DATASETS)],
                         "day": days[max(0, k - 1)].isoformat(), "rev": 1})
        for leg in legs:
            batch += 1
            leg["batch"] = batch
        out.append({"day": day.isoformat(), "legs": legs})
    return out


def write_market(out, seed, days, n_up, n_uof, schedule=None):
    """Write raw files for `days` (revision 0) plus every re-delivery the
    schedule names. Returns {(ds, day, rev): path}."""
    paths = {}
    wanted = {(ds, d.isoformat(), 0) for d in days for ds in DATASETS}
    for d in schedule or []:
        for leg in d["legs"]:
            wanted.add((leg["ds"], leg["day"], leg["rev"]))
    for ds, day, rev in sorted(wanted):
        d = dt.date.fromisoformat(day)
        p = os.path.join(out, ds, f"{day}_r{rev}.csv")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(market_file(seed, ds, d, rev, n_up, n_uof))
        paths[(ds, day, rev)] = p
    return paths


# per template: its share of a run's queries (the mix is fixed, so that runs
# with different seeds do the same kinds of work). The templates' latencies
# fall in three clusters: point and range reads (64%), windows and the SQL
# view (18%), joins and quantiles (18%). The shares put the median inside the
# first cluster and the 90th percentile inside the last, not in a gap
# between clusters, where a one-query shift would move it by ~100 ms.
QUERY_MIX = {"point": 0.42, "range": 0.22, "join": 0.14, "window": 0.10,
             "quantiles": 0.04, "sql_view": 0.08}


def lake_queries(seed, first, last, n, stream=0):
    """`n` queries over the lake's day range [first, last]: a fixed count per
    template, in a seeded order with seeded parameters. Another `stream`
    gives other queries from the same seed (the warm pass's)."""
    r = _rng(seed, 31, stream)
    span = (last - first).days + 1
    months = sorted({(first + dt.timedelta(days=i)).replace(day=1) for i in range(span)})

    def day(width=1):
        return first + dt.timedelta(days=int(r.integers(0, max(1, span - width + 1))))

    def window(d0, days):
        d1 = min(last, d0 + dt.timedelta(days=days - 1))
        return f"{d0} 00:00:00", f"{d1} 23:45:00"

    def market():
        if r.random() < 0.4:
            return "diario", [1]
        return "intra", sorted(int(x) for x in
                               r.choice(range(2, 9), size=int(r.integers(1, 4)), replace=False))

    counts = {t: max(1, int(round(n * w))) for t, w in QUERY_MIX.items()}
    counts["point"] += n - sum(counts.values())
    out = []
    for t, c in counts.items():
        for i in range(c):
            q = {"template": t}
            if t == "point":
                q["mercado"], q["ids"] = market()
                q["from"], q["to"] = window(day(), 1)
            elif t == "range":
                m0 = months[int(r.integers(0, len(months)))]
                m1 = (m0 + dt.timedelta(days=32)).replace(day=1) - dt.timedelta(days=1)
                q["from"], q["to"] = f"{max(m0, first)} 00:00:00", f"{min(m1, last)} 23:45:00"
                q["markets"] = {"diario": [1], "intra": sorted(
                    int(x) for x in r.choice(range(2, 9), size=2, replace=False))}
            elif t == "join":
                q["from"], q["to"] = window(day(2), 2)
            elif t == "window":
                q["kind"] = ("rolling", "downsample")[i % 2]
                q["mercado"], q["ids"] = market()
                q["from"], q["to"] = (window(day(7), 7) if q["kind"] == "rolling"
                                      else window(day(2), 2))
            elif t == "quantiles":
                q["kind"] = ("exact", "winsor")[i % 2]
                q["from"], q["to"] = window(day(14), 14)
            else:
                d0 = day(3)
                q["from"] = f"{d0} 00:00:00"
                q["to"] = f"{d0 + dt.timedelta(days=int(r.integers(1, 4)))} 00:00:00"
                q["limit"] = 20
            out.append(q)
    return [out[i] for i in r.permutation(len(out))]


# ---------------------------------------------------------------- corpus --

WORDS = ("the a of and to in is for on with as by at from that this it be "
         "are was or an data spark lake query table join merge window scan "
         "filter group batch stream price volume market energy hour day "
         "grid power demand supply model token corpus dedup shard index "
         "vector cluster value order line part sort hash key row column "
         "fast slow small big agg").split()


def corpus_tables(seed, n_docs, multiplicity=10, max_chain=3, n_vec=None):
    """documents + embeddings as pyarrow tables."""
    r = _rng(seed, 21)
    n_texts = n_docs // multiplicity
    vocab = np.array(WORDS)
    texts = []
    while len(texts) < n_texts:
        length = int(r.integers(20, 110))
        cur = list(r.integers(0, len(vocab), size=length))
        chain = int(r.integers(1, max_chain + 1))
        for _ in range(min(chain, n_texts - len(texts))):
            texts.append(" ".join(vocab[cur]))
            nxt = list(cur)
            for _ in range(int(r.integers(1, 3))):  # 1-2 word edits
                nxt[int(r.integers(0, len(nxt)))] = int(r.integers(0, len(vocab)))
            cur = nxt
    ids = r.permutation(n_texts * multiplicity)
    doc_text = [texts[i // multiplicity] for i in range(n_texts * multiplicity)]
    order = np.argsort(ids)
    doc_id = ids[order].astype(np.int64)
    text = [doc_text[i] for i in order]
    langs = np.array(["en", "es", "fr", "de", "zh"])
    lang = langs[r.choice(5, size=len(text), p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    source = [f"src{int(x)}" for x in r.integers(0, 20, size=len(text))]
    docs = pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    n_vec = n_vec if n_vec is not None else max(1, n_docs // 5)
    dims = 64
    base = r.normal(0.0, 0.15, size=(n_vec, dims))
    group = r.integers(0, max(1, n_vec // 4), size=n_vec)
    # near-duplicate vectors: members of a group share a centre
    centres = r.normal(0.0, 0.15, size=(int(group.max()) + 1, dims))
    near = r.random(n_vec) < 0.3
    vec = np.where(near[:, None], centres[group] + base * 0.05, base)
    vec = vec.astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, size=n_vec).astype(np.int32)),
    })
    return docs, emb


def write_corpus(out, seed, n_docs, **kw):
    os.makedirs(out, exist_ok=True)
    docs, emb = corpus_tables(seed, n_docs, **kw)
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))


# -------------------------------------------------------------- selfcheck --

def _digest_dir(d):
    h = hashlib.sha256()
    names = []
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            rel = os.path.relpath(p, d)
            names.append(rel)
            h.update(rel.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest(), names


def _shape(d):
    """Per file: row count and column names (the 'shape' two seeds share)."""
    out = {}
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            rel = os.path.relpath(p, d)
            if f.endswith(".parquet"):
                t = pq.read_table(p)
                out[rel] = (t.num_rows, t.column_names)
            else:
                with open(p, "rb") as fh:
                    lines = fh.read().splitlines()
                head = lines[1] if rel.startswith("omie") else lines[0]
                out[rel] = (head.decode("latin-1").split(";")[0],)
    return out


def selfcheck(scratch):
    """Same seed -> byte-identical inputs; another seed -> different bytes,
    same files and columns. Returns a list of problems (empty = ok)."""
    days = [dt.date(2024, 3, 30) + dt.timedelta(days=i) for i in range(3)]
    problems = []
    digests = {}
    for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
        root = os.path.join(scratch, f"selfcheck_{tag}")
        sched = etl_schedule(seed, days)
        write_market(os.path.join(root, "market"), seed, days, 12, 12, sched)
        write_corpus(os.path.join(root, "corpus"), seed, 400)
        digests[tag] = (_digest_dir(root), _shape(root), root)
    (da, na), sa, _ = digests["a"]
    (db, nb), _, _ = digests["b"]
    (dc, nc), sc, _ = digests["c"]
    if da != db:
        problems.append("same seed gave different bytes")
    if da == dc:
        problems.append("different seeds gave identical bytes")
    # re-delivery choice may differ by seed; compare the files both share
    common = set(na) & set(nc)
    if not common or any(sa[k] != sc[k] for k in common):
        problems.append("different seeds gave a different shape")
    return problems


if __name__ == "__main__":
    if sys.argv[1:2] == ["--selfcheck"]:
        import tempfile
        base = sys.argv[2] if len(sys.argv) > 2 else None
        with tempfile.TemporaryDirectory(dir=base) as tmp:
            probs = selfcheck(tmp)
        print(json.dumps({"selfcheck": "ok" if not probs else probs}))
        sys.exit(1 if probs else 0)
    print(__doc__)
