"""Seeded input generators for the `er_landing` and `curation_chain` workloads.

Both generators are pure functions of (seed, size): the same arguments write
byte-identical files. The program under test only ever sees the files; the
gold answers (`gold.json`) stay with the benchmark.

    python3 perfbench/gen.py er_landing <seed> <out_dir>
    python3 perfbench/gen.py curation_chain <seed> <out_dir>
"""
import json
import os
import random
import sys

# ---------------------------------------------------------------- er_landing

ER_ABR_ENTITIES = 1000      # distinct legal entities in the ABR extract
ER_PAGES = 600              # crawl pages (before planted duplicates)
ER_FILES = 4                # files per source (input splits)
ER_POSTCODES = 300          # postcode blocks, Zipf-skewed
ER_ZIPF_S = 1.1

# crawl mix: which cascade stage each page is built to reach
ER_MIX = (("rule", 0.35), ("fuzzy", 0.30), ("abbrev", 0.20), ("unrelated", 0.15))

NAME_WORDS = (
    "acme apex arrow aurora banksia bluegum bondi bridge canopy capital cedar "
    "coastal coral crown delta eastern echo ember summit fern frontier galaxy "
    "golden granite harbour highland horizon iron jarrah kestrel koala lakeside "
    "laurel lighthouse lotus magnolia maple meridian metro mulga nautilus "
    "northern oasis ocean orbit outback pacific paragon pinnacle platinum "
    "prime quartz radiant redgum ridge river sapphire silver southern spinifex "
    "sterling stone sunrise tasman timber titan urban valley vertex vista "
    "wattle western willow yarra zenith").split()
TRADE_WORDS = (
    "plumbing electrical builders logistics consulting accounting dental "
    "engineering landscaping roofing catering freight mining solar security "
    "cleaning legal medical motors marine printing software hardware "
    "transport tiling painting fencing glass steel timber realty finance "
    "labs studio design media health pharmacy bakery brewing coffee farms "
    "traders imports exports holdings ventures group services systems").split()
LEGAL_SUFFIXES = ("PTY LTD", "PTY. LTD.", "PTY LIMITED", "PTY LTD", "LIMITED")
ENTITY_TYPES = ("Australian Private Company", "Australian Public Company",
                "Other Unincorporated Entity", "Discretionary Trading Trust")
STATE_ALIASES = {
    "NSW": ("NSW", "New South Wales", "N.S.W.", "nsw", "NEW SOUTH WALES"),
    "VIC": ("VIC", "Victoria", "Vic.", "VICTORIA"),
    "QLD": ("QLD", "Queensland", "Qld", "QUEENSLAND"),
    "SA": ("SA", "South Australia", "S.A."),
    "WA": ("WA", "Western Australia", "W.A."),
    "TAS": ("TAS", "Tasmania", "Tas."),
}
POSTCODE_STATE = (("NSW", 2000), ("VIC", 3000), ("QLD", 4000),
                  ("SA", 5000), ("WA", 6000), ("TAS", 7000))
FILLER = ("Family owned and operated since the nineties. Friendly local team, "
          "free quotes, fully licensed and insured. Servicing the metro area "
          "and surrounding suburbs seven days a week.")
ABN_WEIGHTS = (10, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19)


def abn_valid(abn):
    if len(abn) != 11 or not abn.isdigit():
        return False
    digits = [int(c) for c in abn]
    digits[0] -= 1
    return sum(w * d for w, d in zip(ABN_WEIGHTS, digits)) % 89 == 0


def make_abn(rng):
    """A checksum-valid 11-digit ABN."""
    while True:
        body = "".join(rng.choice("0123456789") for _ in range(9))
        for check in range(10, 100):
            cand = f"{check}{body}"
            if abn_valid(cand):
                return cand


def break_abn(rng, abn):
    """The same ABN with one digit changed so the checksum fails."""
    while True:
        i = rng.randrange(2, 11)
        d = rng.choice([c for c in "0123456789" if c != abn[i]])
        bad = abn[:i] + d + abn[i + 1:]
        if not abn_valid(bad):
            return bad


def spaced(abn):
    return f"{abn[:2]} {abn[2:5]} {abn[5:8]} {abn[8:]}"


def zipf_weights(n, s):
    return [1.0 / (k ** s) for k in range(1, n + 1)]


def dirty_name(rng, words, suffix):
    """A legal name as a registry clerk might type it."""
    name = " ".join(w.upper() for w in words) + " " + suffix
    r = rng.random()
    if r < 0.15:
        name = name.replace(" ", "  ", 1)
    elif r < 0.30:
        name = name.replace(" ", ", ", 1)
    elif r < 0.40:
        name = name.title()
    elif r < 0.45:
        name = "THE " + name
    return name


def xml_escape(s):
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def html_page(rng, title, body_text, ld_name):
    ld = json.dumps({"@context": "https://schema.org", "@type": "Organization",
                     "name": ld_name}, sort_keys=True)
    return (
        "<!DOCTYPE html><html><head>"
        f"<title>{title}</title>"
        "<style>body{font-family:sans-serif} .hero{color:#123}</style>"
        f"<script>window.dataLayer=[];var n={rng.randrange(10**6)};</script>"
        f'<script type="application/ld+json">{ld}</script>'
        "</head><body><nav><a href=\"/\">Home</a> <a href=\"/about\">About</a>"
        " <a href=\"/contact\">Contact</a></nav>"
        f"<div class=\"hero\"><h1>{title}</h1><p>{body_text}</p>"
        f"<p>{FILLER}</p></div>"
        "<footer>All rights reserved.</footer></body></html>")


def gen_er_landing(seed, out_dir, n_entities=ER_ABR_ENTITIES, n_pages=ER_PAGES):
    """ABR bulk XML + crawl pages (url, html) + gold (domain, abn) pairs."""
    rng = random.Random(f"er_landing:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    postcodes = []
    for i in range(ER_POSTCODES):
        state, base = POSTCODE_STATE[i % len(POSTCODE_STATE)]
        postcodes.append((state, str(base + 10 * (i // len(POSTCODE_STATE)) + 1)))
    weights = zipf_weights(len(postcodes), ER_ZIPF_S)

    entities = []
    seen_names = set()
    while len(entities) < n_entities:
        k = rng.choice((2, 3, 3, 4))
        words = [rng.choice(NAME_WORDS)] + rng.sample(TRADE_WORDS, k - 1)
        if " ".join(words) in seen_names:
            continue
        seen_names.add(" ".join(words))
        state, pc = rng.choices(postcodes, weights)[0]
        abn = make_abn(rng)
        entities.append({"words": words, "abn": abn, "state": state, "pc": pc,
                         "broken": rng.random() < 0.03})

    rows = []
    for e in entities:
        abn = break_abn(rng, e["abn"]) if e["broken"] else e["abn"]
        e["abr_abn"] = abn
        text_abn = spaced(abn) if rng.random() < 0.05 else abn
        row = (text_abn, dirty_name(rng, e["words"], rng.choice(LEGAL_SUFFIXES)),
               rng.choice(ENTITY_TYPES), rng.choice(STATE_ALIASES[e["state"]]),
               e["pc"], f"{rng.randrange(1999, 2024)}{rng.randrange(1, 13):02d}"
               f"{rng.randrange(1, 29):02d}")
        rows.append(row)
        if rng.random() < 0.05:  # planted stg duplicate
            rows.append(row)
    # the bulk extract ships as several files; each one is a split for Spark
    os.makedirs(os.path.join(out_dir, "abr"), exist_ok=True)
    for part in range(ER_FILES):
        with open(os.path.join(out_dir, "abr", f"part-{part:05d}.xml"), "w",
                  encoding="utf-8") as f:
            f.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<Transfer>\n")
            for abn, name, etype, state, pc, since in rows[part::ER_FILES]:
                f.write(
                    f'<ABR><ABN status="ACT" ABNStatusFromDate="{since}">{abn}'
                    "</ABN><EntityType><EntityTypeText>"
                    f"{etype}</EntityTypeText></EntityType>"
                    "<MainEntity><NonIndividualName><NonIndividualNameText>"
                    f"{xml_escape(name)}</NonIndividualNameText>"
                    "</NonIndividualName><BusinessAddress><AddressDetails>"
                    f"<State>{xml_escape(state)}</State><Postcode>{pc}</Postcode>"
                    "</AddressDetails></BusinessAddress></MainEntity></ABR>\n")
            f.write("</Transfer>\n")

    kinds = [k for k, _ in ER_MIX]
    kind_w = [w for _, w in ER_MIX]
    pages, gold, domains = [], [], set()
    mix = {k: 0 for k in kinds}
    while len(pages) < n_pages:
        kind = rng.choices(kinds, kind_w)[0]
        e = rng.choice(entities)
        if kind == "rule" and e["broken"]:
            continue  # a page only ever quotes a checksum-valid ABN
        words = list(e["words"])
        if kind == "rule":
            slug = words
        elif kind == "fuzzy":
            slug = words + (["pty", "ltd"] if rng.random() < 0.5 else [])
        elif kind == "abbrev":
            slug = words[:1] + [w[:4] for w in words[1:]]
        else:
            slug = [rng.choice(TRADE_WORDS) for _ in range(2)] + [
                f"x{rng.randrange(10**5)}"]
        domain = "-".join(slug) + rng.choice((".com.au", ".com.au", ".au", ".com"))
        if domain in domains:
            continue
        domains.add(domain)
        mix[kind] += 1
        title = " ".join(w.title() for w in slug)
        if kind == "unrelated":
            where = (f"Darwin NT 08{rng.randrange(10, 99)}" if rng.random() < 0.5
                     else "Servicing customers nationwide")
            body = f"{title}. {where}."
        else:
            body = f"{title}. Visit us at {rng.randrange(1, 300)} Main Street, "\
                   f"{e['state']} {e['pc']}."
            if kind == "rule":
                body += f" ABN: {spaced(e['abn'])}."
            gold.append([domain, e["abr_abn"]])
        body += f" Email info@{domain}. Phone +61-2-{rng.randrange(10**7, 10**8)}."
        url = f"https://{'www.' if rng.random() < 0.5 else ''}{domain}/"
        page = {"url": url, "html": html_page(rng, title, body, title)}
        pages.append(page)
        if rng.random() < 0.03:  # planted stg duplicate
            pages.append(page)
    os.makedirs(os.path.join(out_dir, "pages"), exist_ok=True)
    for part in range(ER_FILES):
        with open(os.path.join(out_dir, "pages", f"part-{part:05d}.jsonl"), "w",
                  encoding="utf-8") as f:
            for p in pages[part::ER_FILES]:
                f.write(json.dumps(p, sort_keys=True) + "\n")
    gold.sort()
    meta = {"abr_rows": len(rows), "pages": len(pages), "entities": n_entities,
            "gold_pairs": len(gold), "mix": mix, "records": len(rows) + len(pages)}
    with open(os.path.join(out_dir, "gold.json"), "w") as f:
        json.dump({"pairs": gold}, f)
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


# ------------------------------------------------------------ curation_chain

CC_BASE_DOCS = 1500         # base corpus size
CC_REPLICAS = 4             # extra edited copies of every base document
CC_NGRAM = 3
CC_THRESHOLD = 0.5
# the 31-token vocabulary of the repository's synthetic `documents` table
DOC_VOCAB = (
    "a agg batch big column customer data fast group hash join key line "
    "merge order part query row scan slow small sort spark stream table "
    "the value window").split()


def shingles(text, n=CC_NGRAM):
    """Distinct word n-grams, the `Dedup.shingles` contract for
    single-space-separated text."""
    toks = text.split(" ")
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 1.0


def edit_tokens(rng, toks, rate):
    """Replace, delete or insert a `rate` share of the tokens."""
    out = list(toks)
    for _ in range(max(1, round(rate * len(toks)))):
        op = rng.random()
        i = rng.randrange(len(out))
        if op < 0.5:
            out[i] = rng.choice(DOC_VOCAB)
        elif op < 0.75 and len(out) > 4:
            del out[i]
        else:
            out.insert(i, rng.choice(DOC_VOCAB))
    return out


def gen_curation_chain(seed, out_dir, n_base=CC_BASE_DOCS, replicas=CC_REPLICAS):
    """Base corpus plus `replicas` edited copies per document; the planted
    pairs are (base, copy). Edit rates straddle the Jaccard threshold."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(f"curation_chain:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    ids, texts, planted = [], [], []
    bases = []
    for d in range(n_base):
        toks = [rng.choice(DOC_VOCAB) for _ in range(rng.randrange(30, 90))]
        bases.append(toks)
        ids.append(d)
        texts.append(" ".join(toks))
    for k in range(1, replicas + 1):
        for d, toks in enumerate(bases):
            # light edits land above the threshold, heavy ones below it
            rate = rng.choice((0.02, 0.05, 0.08, 0.12, 0.25))
            rid = k * 10_000_000 + d
            text = " ".join(edit_tokens(rng, toks, rate))
            ids.append(rid)
            texts.append(text)
            j = jaccard(shingles(texts[d]), shingles(text))
            planted.append([d, rid, round(j, 12)])
    table = pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(texts, pa.string())})
    pq.write_table(table, os.path.join(out_dir, "docs.parquet"),
                   compression="snappy", row_group_size=1 << 20)
    above = sum(1 for _, _, j in planted if j >= CC_THRESHOLD)
    meta = {"docs": len(ids), "base_docs": n_base, "replicas": replicas,
            "planted_pairs": len(planted), "planted_above": above,
            "records": len(ids), "ngram": CC_NGRAM, "threshold": CC_THRESHOLD}
    with open(os.path.join(out_dir, "gold.json"), "w") as f:
        json.dump({"planted": planted}, f)
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


GENERATORS = {"er_landing": gen_er_landing, "curation_chain": gen_curation_chain}

if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py {{{'|'.join(GENERATORS)}}} <seed> <out_dir>")
    print(json.dumps(GENERATORS[sys.argv[1]](int(sys.argv[2]), sys.argv[3])))
