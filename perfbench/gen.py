"""Seeded UMLS-shaped RRF release generator with its own ground truth.

`make_release(workload, seed, lake_dir)` writes the eight pipe-delimited
tables the export reads (MRCONSO, MRREL, MRDEF, MRSAT, MRRANK, MRSTY, MRSAB,
MRDOC) plus a `umls.conf` manifest, and returns the expected content of every
ontology file, derived from the generated rows alone:

- `codes`: per class code, in the order the export must emit them, the
  top-ranked label, the number of distinct alternative labels and the number
  of `rdfs:subClassOf` triples (resolvable CHD parents, MeSH tree parents,
  the `owl:Thing` root);
- `props`: the predicate URIs the property block must list.

Release shape (see README.md for the figures): a few atoms and relations per
code with a long tail; suppressed, non-English and other-source rows the
filters must drop; SRC `V-<SAB>` root atoms; labels with non-ASCII text and
with characters Turtle must escape; a few codes URI quoting must
percent-encode. Every `load_on_codes` class has exactly one atom of its
SAB's top-ranked term type and every `load_on_cuis` class exactly one
preferred atom, so no term can fail label selection.
"""

import json
import os
import random
import urllib.parse

BASE_URI = "http://purl.bioontology.org/ontology/"
VERSION = "2025AA"

# One SAB holding the whole release (the SNOMEDCT shape).
BIG_SAB_CODES = 8000
# The release sweep: about the same volume over 16 SABs of Zipf-skewed size.
SWEEP_SABS = [
    # (sab, load_on_cuis)
    ("SNOMEDCT_US", False), ("MSH", False), ("MEDLINEPLUS", True),
    ("NDDF", True),
]
SWEEP_CODES = 8000
HOT_SHARE = 0.10

WORDS = (
    "acute chronic renal hepatic cardiac pulmonary fracture lesion disorder "
    "syndrome neoplasm benign malignant infection of the left right upper "
    "lower limb artery vein nerve muscle bone joint skin tissue cell gland "
    "structure finding procedure measurement agent substance dose oral tablet "
    "injection solution serum plasma level ratio antibody antigen receptor "
    "protein gene mutation deficiency excess congenital acquired primary "
    "secondary stage grade type").split()
# Non-ASCII and Turtle-escape cases: quotes and backslashes go through the
# renderer's escape path, multi-byte text through URI quoting and UTF-8 I/O.
ODD_WORDS = [
    "Ménière", "Sjögren", "β-blocker", "Ångström", "naïve", "α-fetoprotein",
    "Crohn’s", "μg/mL", "中文", 'so-called "mild"', "ratio a\\b",
    'grade "II"', "5\\6 split",
]

REL_KINDS = [
    # (REL, RELA) of the non-hierarchical relations
    ("RO", "has_finding_site"), ("RO", "associated_morphology"),
    ("RO", "has_active_ingredient"), ("RB", "broader_than"),
    ("RN", "narrower_than"), ("RO", "may_treat"), ("SY", ""),
    ("RQ", "classified_as"), ("RO", "has_component"), ("RO", "mapped_to"),
]
ATNS = ["DEFINITION_STATUS_ID", "CASE_SIGNIFICANCE_ID", "ACTIVE", "SOS",
        "LOINC_COMPONENT", "RXN_STRENGTH", "CTV3ID", "MOVED_FROM", "AQ",
        "SEMANTIC_CATEGORY", "TERMUI"]
TUIS = [("T%03d" % (i + 1), stn, sty) for i, (stn, sty) in enumerate([
    ("A", "Entity"), ("A1", "Physical Object"), ("A1.1", "Organism"),
    ("A1.2", "Anatomical Structure"), ("A1.2.1", "Embryonic Structure"),
    ("A1.3", "Manufactured Object"), ("A1.4", "Substance"),
    ("A1.4.1", "Chemical"), ("A1.4.1.1", "Pharmacologic Substance"),
    ("A2", "Conceptual Entity"), ("A2.1", "Idea or Concept"),
    ("A2.2", "Finding"), ("A2.2.1", "Laboratory or Test Result"),
    ("A2.2.2", "Sign or Symptom"), ("B", "Event"), ("B1", "Activity"),
    ("B1.3", "Therapeutic or Preventive Procedure"),
    ("B2", "Phenomenon or Process"), ("B2.2", "Pathologic Function"),
    ("B2.2.1", "Disease or Syndrome"),
])]

SUPPRESSED = ("O", "E", "Y")
# CHD targets the renderer never turns into rdfs:subClassOf.
BOGUS_ROOTS = {"ICD-10-CM", "138875005", "V-HL7V3.0", "C1553931"}
PREF_TTY = {"MSH": "MH"}
OTHER_TTYS = {"MSH": ["ET", "PM", "NM"]}
DEFAULT_OTHER_TTYS = ["SY", "FN", "AB"]


def _quote(code):
    # Python's urllib.quote is what the reference umls2rdf uses for URIs.
    return urllib.parse.quote(code, safe="/")


class _Ids:
    def __init__(self):
        self.aui = 0
        self.cui = 0
        self.other = 0

    def next_aui(self):
        self.aui += 1
        return "A%08d" % self.aui

    def next_cui(self):
        self.cui += 1
        return "C%07d" % (1000000 + self.cui)

    def next_id(self, prefix):
        self.other += 1
        return "%s%08d" % (prefix, self.other)


def _tail(rng, cap):
    """A small count with a long tail: 0 most often, rarely up to `cap`."""
    return min(int(rng.paretovariate(1.4)) - 1, cap)


def _label(rng):
    n = rng.randint(2, 5)
    words = [rng.choice(WORDS) for _ in range(n)]
    if rng.random() < 0.06:
        words.insert(rng.randint(0, n), rng.choice(ODD_WORDS))
    words.append(str(rng.randint(1, 99999)))
    return " ".join(words)


def _sab_sizes(total, n, skew=1.0):
    weights = [1.0 / (i + 1) ** skew for i in range(n)]
    s = sum(weights)
    return [max(40, int(round(total * w / s))) for w in weights]


class _Release:
    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.ids = _Ids()
        self.conso, self.rel, self.defs, self.sat = [], [], [], []
        self.sty, self.sab_rows = [], []
        self.rank = []
        self.truth = []

    # -- rows ------------------------------------------------------------
    def atom(self, cui, sab, tty, code, text, lat="ENG", suppress="N",
             ispref="N"):
        aui = self.ids.next_aui()
        self.conso.append([
            cui, lat, "P", self.ids.next_id("L"), "PF", self.ids.next_id("S"),
            ispref, aui, "", "", "", sab, tty, code, text, "0", suppress,
            "256"])
        return aui

    def relation(self, cui1, aui1, rel, cui2, aui2, rela, sab,
                 suppress="N"):
        self.rel.append([
            cui1, aui1, "AUI", rel, cui2, aui2, "AUI", rela,
            self.ids.next_id("R"), "", sab, sab, "", "Y", suppress, "256"])

    def attribute(self, cui, code, atn, atv, sab):
        self.sat.append([
            cui, "", "", "", "CODE", code, self.ids.next_id("AT"), "", atn,
            sab, atv, "N", "256"])

    def definition(self, cui, aui, text, sab):
        self.defs.append([cui, aui, self.ids.next_id("AT"), "", sab, text,
                          "N", "256"])

    # -- one ontology ----------------------------------------------------
    def add_sab(self, sab, n_codes, on_cuis, hot_share=0.0):
        rng = self.rng
        pref_tty = PREF_TTY.get(sab, "PT")
        others = OTHER_TTYS.get(sab, DEFAULT_OTHER_TTYS)
        for i, tty in enumerate([pref_tty] + others + ["OP"]):
            self.rank.append(["%04d" % (400 - i), sab, tty, "N"])
        self.sab_rows.append(_mrsab_row(sab, current=True))
        if sab == "SNOMEDCT_US":  # an older, non-current version row
            self.sab_rows.append(_mrsab_row(sab, current=False))
        root_cui = self.ids.next_cui()
        root_aui = self.atom(root_cui, "SRC", "RPT", "V-" + sab,
                             sab + " root")

        # Classes: code -> (cui, kept auis, pref label, alt labels)
        classes = []
        used = set()
        for i in range(n_codes):
            while True:
                if on_cuis:
                    code = None
                elif sab == "MSH":
                    code = "D%06d" % rng.randint(0, 999999)
                elif rng.random() < 0.01:
                    code = "%d:%s" % (rng.randint(1, 99999), rng.choice("ABX^"))
                else:
                    code = str(rng.randint(10000, 999999999))
                if code is None or code not in used and code not in BOGUS_ROOTS:
                    break
            cui = self.ids.next_cui()
            if on_cuis:
                code = cui
            used.add(code)
            classes.append({"code": code, "cui": cui, "kept": [], "alts": set(),
                            "parents": set(), "root": False, "tree": set()})

        hot = None
        if hot_share > 0:
            hot = classes[rng.randrange(len(classes))]

        for c in classes:
            # load_on_cuis atoms carry the SAB's own code; the class is the CUI.
            c["atom_code"] = "X" + c["cui"][1:] if on_cuis else c["code"]
            pref = _label(rng)
            c["pref"] = pref
            c["kept"].append(self.atom(c["cui"], sab, pref_tty, c["atom_code"],
                                       pref, ispref="Y"))
            for _ in range(_tail(rng, 25)):
                text = _label(rng)
                if text == pref:
                    continue
                c["alts"].add(text)
                c["kept"].append(self.atom(c["cui"], sab, rng.choice(others),
                                           c["atom_code"], text))
            c["dropped"] = []
            if rng.random() < 0.15:  # non-English atom, filtered by LAT
                c["dropped"].append(self.atom(
                    c["cui"], sab, pref_tty, c["atom_code"], _label(rng),
                    lat=rng.choice(["FRE", "GER", "SPA"])))
            if rng.random() < 0.10:  # suppressed atom, filtered by SUPPRESS
                c["dropped"].append(self.atom(
                    c["cui"], sab, "OP", c["atom_code"], _label(rng),
                    suppress=rng.choice(SUPPRESSED)))

        if hot is not None:
            total_atoms = sum(len(c["kept"]) for c in classes)
            extra = int(total_atoms * hot_share / (1 - hot_share))
            for _ in range(extra):
                text = _label(rng)
                if text == hot["pref"]:
                    continue
                hot["alts"].add(text)
                hot["kept"].append(self.atom(
                    hot["cui"], sab, rng.choice(others), hot["atom_code"], text))

        # Hierarchy: each class but the first few has one or two CHD
        # parents among earlier classes; the first few hang off the root.
        n_roots = max(1, len(classes) // 100)
        for i, c in enumerate(classes):
            if i < n_roots:
                c["root"] = True
                if on_cuis:
                    # attached by CUI2; the root CUI is also a rendered parent
                    self.relation(root_cui, root_aui, "CHD", c["cui"],
                                  c["kept"][0], "", sab)
                    c["parents"].add(root_cui)
                else:
                    # target is the SRC atom, which resolves to no class
                    self.relation(root_cui, root_aui, "CHD", c["cui"],
                                  rng.choice(c["kept"]), "", sab)
                continue
            n_par = 1 + (rng.random() < 0.3)
            for _ in range(n_par):
                p = classes[rng.randrange(i)]
                self.add_chd(sab, c, p, on_cuis)
            if rng.random() < 0.05:  # suppressed CHD: dropped by F3
                p = classes[rng.randrange(i)]
                self.relation(p["cui"], rng.choice(p["kept"]), "CHD", c["cui"],
                              rng.choice(c["kept"]), "", sab,
                              suppress=rng.choice(SUPPRESSED))
                if sab == "MSH":  # the tree query keeps suppressed rels
                    c["tree"].add(p["code"])
            if not on_cuis and rng.random() < 0.05 and p["dropped"]:
                # target atom filtered out: the rel does not resolve
                self.relation(p["cui"], p["dropped"][0], "CHD", c["cui"],
                              rng.choice(c["kept"]), "", sab)
                if sab == "MSH":
                    c["tree"].add(p["code"])

        # Other relations, attributes, definitions, semantic types.
        props = set()
        ns = BASE_URI + sab + "/"
        for c in classes:
            for _ in range(_tail(rng, 12)):
                t = classes[rng.randrange(len(classes))]
                if t is c:
                    continue
                rel, rela = rng.choice(REL_KINDS)
                suppress = "N" if rng.random() > 0.05 else "O"
                self.relation(t["cui"], rng.choice(t["kept"]), rel, c["cui"],
                              rng.choice(c["kept"]), rela, sab, suppress)
                if suppress == "N":
                    props.add(ns + _quote(rela or rel))
            seen = set()
            for _ in range(_tail(rng, 10)):
                atn = rng.choice(ATNS)
                atv = "%s_%d" % (rng.choice(WORDS), rng.randint(1, 9999))
                if (atn, atv) in seen:
                    continue
                seen.add((atn, atv))
                self.attribute(c["cui"], c["code"], atn, atv, sab)
                if atn != "AQ":
                    props.add(ns + _quote(atn))
            if rng.random() < 0.2:
                aui = c["kept"][0] if not on_cuis else ""
                for _ in range(rng.randint(1, 2)):
                    self.definition(c["cui"], aui or self.ids.next_aui(),
                                    _label(rng), sab)
            for tui, stn, sty in rng.sample(TUIS, 1 + (rng.random() < 0.1)):
                self.sty.append([c["cui"], tui, stn, sty,
                                 self.ids.next_id("AT"), "256"])
        if hot is not None:
            n_att = sum(1 for r in self.sat if r[9] == sab)
            for k in range(int(n_att * hot_share / (1 - hot_share))):
                atn = rng.choice([a for a in ATNS if a != "AQ"])
                self.attribute(hot["cui"], hot["code"], atn,
                               "hot_%d" % k, sab)
                props.add(ns + _quote(atn))

        # MeSH D-tree: parents by CUI, including suppressed CHD rels.
        if sab == "MSH":
            for c in classes:
                c["tree"] |= c["parents"]

        codes = []
        for c in sorted(classes, key=lambda c: c["code"]):
            if sab == "MSH":
                n_sub = len(c["tree"]) + c["root"]
            else:
                n_sub = len(c["parents"]) + c["root"]
            codes.append([_quote(c["code"]), c["pref"], len(c["alts"]), n_sub])
        self.truth.append({
            "sab": sab, "file": "umls_%s.ttl" % sab.lower(),
            "load_on_cuis": on_cuis, "ns": ns, "codes": codes,
            "props": sorted(props)})

    def add_chd(self, sab, child, parent, on_cuis):
        # CHD row: CUI1/AUI1 is the parent, CUI2/AUI2 the child.
        self.relation(parent["cui"], self.rng.choice(parent["kept"]), "CHD",
                      child["cui"], self.rng.choice(child["kept"]), "", sab)
        self.relation(child["cui"], self.rng.choice(child["kept"]), "PAR",
                      parent["cui"], self.rng.choice(parent["kept"]), "", sab)
        child["parents"].add(parent["cui"] if on_cuis else parent["code"])

    def add_other_source(self, n_codes):
        """Rows of a SAB outside the manifest: every filter must drop them."""
        rng = self.rng
        sab = "OTHERSRC"
        self.sab_rows.append(_mrsab_row(sab, current=True))
        prev = None
        for i in range(n_codes):
            cui = self.ids.next_cui()
            code = "O%06d" % i
            aui = self.atom(cui, sab, "PT", code, _label(rng))
            self.attribute(cui, code, "ACTIVE", "1", sab)
            if prev:
                self.relation(prev[0], prev[1], "CHD", cui, aui, "", sab)
            prev = (cui, aui)


def _mrsab_row(sab, current):
    vsab = "%s_%s" % (sab, VERSION if current else "2024AB")
    return [
        "C9000001" if current else "C9000002", "C8000001", vsab, sab,
        "%s source vocabulary" % sab, sab, VERSION if current else "2024AB",
        "", "", VERSION, "", "", "", "0", "", "", "", "PT,SY", "", "ENG",
        "UTF-8", "Y" if current else "N", "Y", "%s short name" % sab, ""]


def _mrdoc():
    rows = []
    rels = {"CHD": "has child", "PAR": "has parent"}
    for rel, _ in REL_KINDS:
        rels.setdefault(rel, "relation %s" % rel)
    for rel, expl in sorted(rels.items()):
        rows.append(["REL", rel, "expanded_form", expl])
    for rel, rela in REL_KINDS:
        if rela:
            rows.append(["RELA", rela, "expanded_form", rela.replace("_", " ")])
            if rela.startswith("has_"):
                rows.append(["RELA", rela, "rela_inverse", rela[4:] + "_of"])
    for atn in ATNS:
        rows.append(["ATN", atn, "expanded_form", "attribute %s" % atn.lower()])
    rows.append(["TTY", "PT", "expanded_form", "Designated preferred name"])
    rows.append(["LAT", "ENG", "expanded_form", "English"])
    return rows


def _write(path, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write("|".join(r))
            f.write("|\n")


def make_release(workload, seed, lake_dir):
    """Write the workload's release under `lake_dir`; return its truth."""
    rel = _Release(seed)
    manifest = []
    if workload in ("one_big_sab", "hot_code_sab"):
        hot = HOT_SHARE if workload == "hot_code_sab" else 0.0
        rel.add_sab("SNOMEDCT_US", BIG_SAB_CODES, False, hot_share=hot)
        manifest.append(("SNOMEDCT_US", False))
        rel.add_other_source(BIG_SAB_CODES // 20)
    elif workload == "release_sweep":
        sizes = _sab_sizes(SWEEP_CODES, len(SWEEP_SABS))
        for (sab, on_cuis), n in zip(SWEEP_SABS, sizes):
            rel.add_sab(sab, n, on_cuis)
            manifest.append((sab, on_cuis))
        rel.add_other_source(SWEEP_CODES // 20)
    else:
        raise ValueError("unknown workload %r" % workload)

    # Rows arrive in release order, not code order.
    rel.rng.shuffle(rel.conso)
    rel.rng.shuffle(rel.rel)
    os.makedirs(lake_dir, exist_ok=True)
    tables = {
        "MRCONSO": rel.conso, "MRREL": rel.rel, "MRDEF": rel.defs,
        "MRSAT": rel.sat, "MRRANK": rel.rank, "MRSTY": rel.sty,
        "MRSAB": rel.sab_rows, "MRDOC": _mrdoc(),
    }
    for name, rows in tables.items():
        _write(os.path.join(lake_dir, name + ".RRF"), rows)
    conf = os.path.join(lake_dir, "umls.conf")
    with open(conf, "w", encoding="utf-8") as f:
        f.write("# generated manifest\n")
        for sab, on_cuis in manifest:
            f.write("%s,umls_%s.ttl,%s\n" % (
                sab, sab.lower(), "load_on_cuis" if on_cuis else "load_on_codes"))
    truth = {"workload": workload, "seed": seed, "ontologies": rel.truth,
             "rows": {k: len(v) for k, v in tables.items()}}
    with open(os.path.join(lake_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth
