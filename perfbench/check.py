"""Output checks. The expected output of each run is computed from the
same generated input files by an implementation independent of the
engine (plain Python plus DuckDB for the holdings join), and compared
order-insensitively on canonical text. Nothing here is pinned to a seed,
a row count or a core count.

  ai_update, license_tag  exact row equality; label sets compared sorted
  neardup                 every emitted pair at or above the threshold by
                          exact Jaccard; group_id = connected components of
                          the emitted pairs; kept = the (quality, id)-max of
                          each group; recall of the planted pairs >= RECALL
"""
import base64
import datetime as dt
import gzip
import json
import re
from collections import Counter, defaultdict
from functools import lru_cache
from pathlib import Path

RECALL = 0.95  # minimum share of planted near-duplicate pairs found
THRESHOLD = 0.8
LABEL_KEYS = ("institution", "x.labels", "labels")


def read_ndjson(path):
    rows = []
    for f in sorted(Path(path).glob("part-*")):
        opener = gzip.open if f.suffix == ".gz" else open
        with opener(f, "rt", encoding="utf-8") as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


def ndjson_lines(d):
    return [ln for f in sorted(Path(d).glob("*.ndjson"))
            for ln in f.read_text(encoding="utf-8").splitlines() if ln]


def read_tsv(path):
    lines = Path(path).read_text(encoding="utf-8").splitlines()
    cols = lines[0].split("\t")
    return [dict(zip(cols, ln.split("\t"))) for ln in lines[1:] if ln]


def canonical(v):
    """Nulls dropped, label arrays sorted, embedded JSON records parsed."""
    if isinstance(v, dict):
        out = {}
        for k, x in v.items():
            if x is None:
                continue
            if k == "fullrecord" and isinstance(x, str):
                x = json.loads(x)
            x = canonical(x)
            if k in LABEL_KEYS:
                x = sorted(x)
            out[k] = x
        return out
    if isinstance(v, list):
        return [canonical(x) for x in v]
    return v


def compare(got, want, what):
    g = Counter(json.dumps(canonical(r), sort_keys=True) for r in got)
    w = Counter(json.dumps(canonical(r), sort_keys=True) for r in want)
    if g == w:
        return []
    missing, extra = w - g, g - w
    out = [f"{what}: {len(got)} rows, expected {len(want)}; "
           f"{sum(missing.values())} expected rows missing, {sum(extra.values())} unexpected"]
    for r in list(missing)[:2]:
        out.append(f"  missing: {r[:400]}")
    for r in list(extra)[:2]:
        out.append(f"  unexpected: {r[:400]}")
    return out


# ------------------------------------------------------------ licensing

def parse_embargo(s):
    """KBART embargo_info -> (method, days); None when unparseable."""
    t = (s or "").strip(" ").upper()
    if t == "":
        return ("R", 0)
    m = re.fullmatch(r"([RP])([0-9]{1,4})([DMY])", t)
    if not m:
        return None
    return (m.group(1), int(m.group(2)) * {"D": 1, "M": 30, "Y": 365}[m.group(3)])


def amsl_alternatives(rows):
    """AMSL discovery rows -> {isil: [(sid, collections or None, [files])]}:
    a record gets the ISIL when one alternative matches its source, shares
    a collection (when listed) and is entitled by every listed file.
    Crossref (49) collection lists are not enumerated."""
    alts = defaultdict(list)
    sid_colls, link_colls = defaultdict(set), defaultdict(set)
    for r in rows:
        isil, sid = r["isil"], r["sid"]
        lthf, ltcf, eltcf = (r[k].strip() or None for k in (
            "linkToHoldingsFile", "linkToContentFile", "externalLinkToContentFile"))
        pi = r["productISIL"].strip()
        evaluate = r["evaluateHoldingsFileForLibrary"] == "yes"
        colls = {r["mega_collection"]} | ({r["technicalCollectionID"].strip()}
                                          if r["technicalCollectionID"].strip() else set())
        if not (lthf or ltcf or eltcf):
            sid_colls[(isil, sid)] |= colls
        elif lthf and not (ltcf or eltcf):
            if evaluate:
                link_colls[(isil, sid, lthf)] |= colls
        elif pi:
            raise ValueError(f"unhandled AMSL row {r}")
        elif (ltcf or eltcf) and not lthf:
            alts[isil].append((sid, None, [ltcf or eltcf]))
        elif evaluate:
            alts[isil].append((sid, None, [ltcf or eltcf, lthf]))
    for (isil, sid), colls in sid_colls.items():
        if sid != "49":
            alts[isil].append((sid, colls, []))
    for (isil, sid, link), colls in link_colls.items():
        alts[isil].append((sid, None if sid == "49" else colls, [link]))
    return alts


def entitled(records, data, as_of):
    """record id -> set of KBART files entitling it: an ISSN of the record
    is in the file, the record date lies in the coverage window (blank =
    open) and clears the embargo wall."""
    import duckdb
    files = sorted(str(p) for p in (Path(data) / "kbart").glob("*.tsv"))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    hold = con.execute(
        "SELECT regexp_extract(filename, '[^/]+$') AS file, print_identifier, "
        "online_identifier, date_first_issue_online, date_last_issue_online, "
        "coalesce(embargo_info, '') FROM read_csv(?, delim='\t', header=true, "
        "all_varchar=true, quote='', filename=true)", [files]).fetchall()
    asof = dt.date.fromisoformat(as_of)
    hrows = []
    for f, pid, oid, d0, d1, emb in hold:
        e = parse_embargo(emb)
        if e is None:
            continue  # unparseable embargo entitles nothing
        wall = asof - dt.timedelta(days=e[1])
        lo, hi = (wall, None) if e[0] == "P" else (None, wall)
        d0 = dt.date.fromisoformat(d0) if d0 else None
        d1 = dt.date.fromisoformat(d1) if d1 else None
        for issn in (pid, oid):
            if issn:
                hrows.append((issn, f, d0, d1, lo, hi))
    _table(con, "h", ["issn", "file", "d0", "d1", "lo", "hi"], hrows)
    _table(con, "p", ["rid", "issn", "d"], [
        (rid, i, dt.date.fromisoformat(d)) for rid, _, _, issns, d in records for i in set(issns)])
    got = con.execute(
        "SELECT DISTINCT p.rid, h.file FROM p JOIN h USING (issn) "
        "WHERE (h.d0 IS NULL OR p.d >= h.d0) AND (h.d1 IS NULL OR p.d <= h.d1) "
        "AND (h.lo IS NULL OR p.d >= h.lo) AND (h.hi IS NULL OR p.d <= h.hi)").fetchall()
    out = defaultdict(set)
    for rid, f in got:
        out[rid].add(f)
    return out


def _table(con, name, cols, rows):
    import pyarrow as pa
    data = list(zip(*rows)) or [[] for _ in cols]
    con.register(f"{name}_src", pa.table({c: list(v) for c, v in zip(cols, data)}))
    con.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_src")


def labels(records, data, as_of):
    """records: (id, source_id, collections, issns, date) -> {id: [isil]}."""
    alts = amsl_alternatives(read_tsv(Path(data) / "amsl.tsv"))
    by_sid = defaultdict(list)
    for isil, xs in alts.items():
        for sid, colls, files in xs:
            by_sid[sid].append((isil, colls, files))
    ent = entitled(records, data, as_of)
    out = {}
    for rid, sid, colls, _, _ in records:
        e, cs, got = ent.get(rid, ()), set(colls), set()
        for isil, acolls, files in by_sid.get(sid, ()):
            if isil not in got and (acolls is None or cs & acolls) and \
                    all(f in e for f in files):
                got.add(isil)
        out[rid] = sorted(got)
    return out


# ------------------------------------------------------------ ai_update

GENRE = {"journal-article": "article", "book-chapter": "bookitem",
         "proceedings-article": "proceeding", "book": "book", "monograph": "book",
         "reference-book": "book", "report": "report", "dissertation": "thesis"}
LANG3 = {"en": "eng", "de": "deu", "fr": "fra", "es": "spa", "zh": "zho", "it": "ita",
         "pt": "por", "nl": "nld"}
IS_FIELDS = ["abstract", "authors", "doi", "finc.format", "finc.id", "finc.mega_collection",
             "finc.record_id", "finc.source_id", "languages", "rft.atitle", "rft.date",
             "rft.eissn", "rft.genre", "rft.issn", "rft.issue", "rft.jtitle", "rft.pages",
             "rft.place", "rft.pub", "rft.volume", "subjects", "url", "version", "x.date",
             "x.labels", "x.oa", "x.subtitle"]


def norm_doi(doi):
    return re.sub(r"^https?://(dx\.)?doi\.org/", "", doi.lower())


def first(xs):
    return xs[0] if xs else None


def split_list(s):
    return None if s is None else [x for x in s.split(",") if x != ""]


def crossref_is(msg, members, as_of):
    """One snapshot message -> intermediate-schema dict, or None if rejected."""
    doi = norm_doi(msg["DOI"])
    title0 = first(msg.get("title"))
    parts = first((msg.get("issued") or {}).get("date-parts")) or []
    year = parts[0] if parts else None
    if not (title0 or "").strip(" ") or year is None or \
            not 1500 <= year <= dt.date.fromisoformat(as_of).year + 2:
        return None
    sub0 = first(msg.get("subtitle")) or None
    issn_type = msg.get("issn-type")

    def issns(kind):
        if issn_type is None:
            return None
        return sorted(e["value"] for e in issn_type if e.get("type") == kind)

    authors = None
    if msg.get("author") is not None:
        names = []
        for a in msg["author"]:
            s = ", ".join(x for x in (a.get("family"), a.get("given")) if x is not None)
            s = s or a.get("name")
            if s is not None:
                names.append(s)
        authors = [{"rft.au": n} for n in "; ".join(names).split("; ")]
    page = msg.get("page")
    b64 = base64.b64encode(doi.encode()).decode().rstrip("=").translate(str.maketrans("+/", "-_"))
    prefix = doi.split("/")[0]
    subjects = msg.get("subject")
    abstract = msg.get("abstract")
    return {
        "finc.id": f"ai-49-{b64}", "finc.record_id": doi, "finc.source_id": "49",
        "finc.format": "ElectronicArticle",
        "finc.mega_collection": [members.get(prefix, "UNDEFINED") + " (CrossRef)"],
        "rft.genre": GENRE.get(msg.get("type"), "document"),
        "rft.atitle": " : ".join(x for x in (title0, sub0) if x is not None),
        "rft.jtitle": first(msg.get("container-title")),
        "rft.issn": issns("print"), "rft.eissn": issns("electronic"),
        "rft.volume": msg.get("volume"), "rft.issue": msg.get("issue"), "rft.pages": page,
        "rft.date": "%04d-%02d-%02d" % (year, parts[1] if len(parts) > 1 else 1,
                                         parts[2] if len(parts) > 2 else 1),
        "rft.pub": [msg["publisher"]] if msg.get("publisher") is not None else None,
        "authors": authors, "doi": doi,
        "url": [msg.get("URL") or "https://doi.org/" + doi],
        "languages": [LANG3.get(msg.get("language"), "eng")],
        "subjects": split_list(",".join(subjects)) if subjects is not None else None,
        "abstract": re.sub(r"</?jats:[^>]+>", "", abstract) if abstract is not None else None,
    }


def solr(rec):
    au = []
    for a in rec.get("authors") or []:
        s = a.get("rft.au") or a.get("rft.aucorp")
        if s is None:
            s = ", ".join(x for x in (a.get("rft.aulast"), a.get("rft.aufirst")) if x) or None
        if s is not None:
            au.append(s)
    year = rec["rft.date"][:4] if rec.get("rft.date") is not None else None
    return {
        "id": rec["finc.id"], "source_id": rec["finc.source_id"],
        "record_id": rec.get("finc.record_id"), "mega_collection": rec.get("finc.mega_collection"),
        "format": rec.get("finc.format"), "institution": rec.get("x.labels"),
        "title": rec.get("rft.atitle"), "container_title": rec.get("rft.jtitle"),
        "container_volume": rec.get("rft.volume"), "container_issue": rec.get("rft.issue"),
        "container_pages": rec.get("rft.pages"), "author_facet": au,
        "publisher": rec.get("rft.pub"), "place": rec.get("rft.place"),
        "topic": rec.get("subjects"), "genre_facet": rec.get("rft.genre"),
        "issn": rec.get("rft.issn") or [], "eissn": rec.get("rft.eissn") or [],
        "doi": rec.get("doi"), "description": rec.get("abstract"),
        "publishDate": year, "publishDateSort": year, "language": rec.get("languages"),
        "url": rec.get("url"), "access_facet": "Electronic Resources",
        "facet_avail": ["Online", "Free"] if rec.get("x.oa") else ["Online"],
        "fullrecord": {k: rec.get(k) for k in IS_FIELDS},
    }


def expected_ai_update(data, as_of):
    data = Path(data)
    members = {r["prefix"]: r["name"] for r in read_tsv(data / "members.tsv")}
    latest = {}
    for line in ndjson_lines(data / "crossref"):
        if not line:
            continue
        m = json.loads(line)
        if m.get("DOI") is None:
            continue
        key = norm_doi(m["DOI"])
        rank = ((m.get("indexed") or {}).get("date-time") or "", line)
        if key not in latest or rank > latest[key][0]:
            latest[key] = (rank, m)
    recs = [r for r in (crossref_is(m, members, as_of) for _, m in latest.values()) if r]
    for line in ndjson_lines(data / "doaj"):
        if line:
            d = json.loads(line)
            recs.append({k: d.get(k) for k in IS_FIELDS})

    tagged = labels([(r["finc.id"], r["finc.source_id"], r["finc.mega_collection"] or [],
                      (r["rft.issn"] or []) + (r["rft.eissn"] or []), r["rft.date"])
                     for r in recs], data, as_of)
    for r in recs:
        r["x.labels"] = tagged[r["finc.id"]]

    prefs = [r["sid"] for r in read_tsv(data / "prefs.tsv")]
    rank = {s: i for i, s in enumerate(prefs)}
    groups = defaultdict(list)
    for r in recs:
        if r.get("doi"):
            groups[r["doi"].lower()].append(r)
    for g in groups.values():
        g.sort(key=lambda r: (rank.get(r["finc.source_id"], len(prefs)), r["finc.id"]))
        won = set(g[0]["x.labels"])
        for r in g[1:]:
            r["x.labels"] = [x for x in r["x.labels"] if x not in won]
    return [solr(r) for r in recs]


def expected_license_tag(data, as_of):
    import pyarrow.parquet as pq
    t = pq.read_table(Path(data) / "records").to_pydict()
    recs = list(zip(t["finc.id"], t["finc.source_id"], t["finc.mega_collection"],
                    [a + b for a, b in zip(t["rft.issn"], t["rft.eissn"])], t["rft.date"]))
    return [{"id": rid, "labels": ls} for rid, ls in labels(recs, data, as_of).items()]


# -------------------------------------------------------------- neardup

def check_neardup(data, run_dir, groups=None, pairs=None):
    data, run_dir = Path(data), Path(run_dir)
    toks = {}
    for line in ndjson_lines(data / "corpus"):
        if line:
            d = json.loads(line)
            toks[d["doc_id"]] = (frozenset(d["text"].strip(" ").split()), d["quality"])
    if groups is None:
        groups = read_ndjson(run_dir / "out")
    if pairs is None:
        import pyarrow.parquet as pq
        [pdir] = (run_dir / "work" / "tasks" / "pairs").glob("date=*")
        t = pq.read_table(pdir).to_pydict()
        pairs = list(zip(t["id_a"], t["id_b"]))
    problems = []

    for a, b in pairs:
        sa, sb = toks[a][0], toks[b][0]
        j = len(sa & sb) / len(sa | sb)
        if j < THRESHOLD:
            problems.append(f"pair ({a}, {b}) emitted at Jaccard {j:.4f} < {THRESHOLD}")
            break

    parent = {d: d for d in toks}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members = defaultdict(list)
    for d in toks:
        members[find(d)].append(d)
    want = []
    for ms in members.values():
        keep = max(ms, key=lambda d: (toks[d][1], d))
        want += [{"doc_id": d, "group_id": min(ms), "kept": d == keep} for d in ms]
    problems += compare(groups, want, "neardup groups")

    found = {(min(a, b), max(a, b)) for a, b in pairs}
    planted = [sorted(int(x) for x in ln.split())
               for ln in (data / "planted.tsv").read_text().splitlines() if ln]
    want_pairs = [(c[i], c[k]) for c in planted for i in range(len(c))
                  for k in range(i + 1, len(c))]
    recall = sum(p in found for p in want_pairs) / max(1, len(want_pairs))
    if recall < RECALL:
        problems.append(f"recall of planted pairs {recall:.4f} < {RECALL}")
    return problems


@lru_cache(maxsize=2)
def reference(workload, data):
    """Expected rows of ai_update or license_tag, computed once per input."""
    as_of = json.loads((Path(data) / "meta.json").read_text())["as_of"]
    return {"ai_update": expected_ai_update,
            "license_tag": expected_license_tag}[workload](data, as_of)


def check(workload, data, run_dir):
    """Problems found in the run's committed output; empty when correct."""
    if workload == "neardup":
        return check_neardup(data, run_dir)
    got = read_ndjson(Path(run_dir) / "out")
    return compare(got, reference(workload, str(data)), workload)
