"""Checks one exported ontology file against the generator's ground truth.

The checks read the Turtle text directly and share no code with the
program under test:

- the file holds exactly the expected number of class terms;
- term subjects are the expected codes in strictly ascending code order;
- each term has one `skos:prefLabel`, equal to the generated top-ranked
  label;
- each term has the generated number of distinct `skos:altLabel` values;
- each term has one `rdfs:subClassOf` per resolvable CHD parent (MeSH: per
  tree parent), plus one for an `owl:Thing` root;
- the property block lists exactly the generated ATN/REL/RELA predicates.
"""

import re
import urllib.parse

_PREF = '\tskos:prefLabel """'
_ALT = "\tskos:altLabel "
_SUB = "\trdfs:subClassOf "
_PROPERTY = re.compile(r"^<([^>]+)> a owl:(?:Object|Datatype)Property ;$",
                       re.M)
_UNESCAPE = re.compile(r"\\(.)")


def check_file(path, truth, lang="en"):
    """Return a list of problems (empty when the file matches `truth`)."""
    with open(path, encoding="utf-8") as f:
        text = f.read()
    header = text.find("a owl:Ontology")
    if header < 0:
        return ["no ontology header"]
    start = text.find(" .\n\n", header) + 4
    end = text.find("umls:hasSTY a owl:ObjectProperty", start)
    if end < 0:
        return ["no property block"]
    blocks = [b for b in text[start:end].split(" .\n\n") if b.strip()]

    expected = truth["codes"]
    problems = []
    if len(blocks) != len(expected):
        problems.append("%d terms, expected %d" % (len(blocks), len(expected)))
    pref_tail = '"""@%s ;' % lang
    alt_sep = '"""@%s , """' % lang
    prev = None
    for block, (code, pref, n_alt, n_sub) in zip(blocks, expected):
        lines = block.split("\n")
        subject = lines[0][1:lines[0].find(">")]
        want = truth["ns"] + code
        if subject != want:
            problems.append("subject %s, expected %s" % (subject, want))
            break
        raw = urllib.parse.unquote(subject[len(truth["ns"]):])
        if prev is not None and not raw > prev:
            problems.append("code %s not after %s" % (raw, prev))
        prev = raw
        prefs = [l for l in lines if l.startswith(_PREF)]
        if len(prefs) != 1 or not prefs[0].endswith(pref_tail):
            problems.append("%s: %d prefLabel lines" % (code, len(prefs)))
        else:
            got = _UNESCAPE.sub(r"\1", prefs[0][len(_PREF):-len(pref_tail)])
            if got != pref:
                problems.append("%s: prefLabel %r, expected %r"
                                % (code, got, pref))
        alts = [l for l in lines if l.startswith(_ALT)]
        got_alt = alts[0].count(alt_sep) + 1 if alts else 0
        if len(alts) > 1 or got_alt != n_alt:
            problems.append("%s: %d altLabels, expected %d"
                            % (code, got_alt, n_alt))
        got_sub = sum(1 for l in lines if l.startswith(_SUB))
        if got_sub != n_sub:
            problems.append("%s: %d subClassOf, expected %d"
                            % (code, got_sub, n_sub))
        if len(problems) > 20:
            break

    props = sorted(set(_PROPERTY.findall(text[end:])))
    if props != truth["props"]:
        problems.append("property block %s, expected %s"
                        % (sorted(set(props) ^ set(truth["props"]))[:5],
                           "the generated predicates"))
    return problems
