"""Seeded generator for `;`-separated EHR entry extracts (FIXTURES.md §1).

Every random choice comes from a ``random.Random`` seeded with an md5 of
``(seed, extract, patient)``, so an extract depends only on those three
values: the same seed gives byte-identical files on any host, and
extracts of one seed are patient-disjoint (PATNR = extract * 100000 +
patient).

Schema: ``PATNR`` (double, written ``474.0``), ``annotation``
(``TRUE``/``FALSE``, constant per patient), ``text`` (Dutch-like
clinical free text). Positive patients mention RA terms and RA-linked
vocabulary; negative ones mention other joint diagnoses and now and
then an RA term ("geen ra"), which exercises the false-positive path of
word matching. Texts carry typos, upper case, ``ã«``/``\\xa0``/``\\t``
mojibake, punctuation and digits, so the artefact fix and cleaning
steps have work to do. The text never holds ``;``, ``"``, ``\\`` or a
newline, so the CSV needs no quoting.
"""

from __future__ import annotations

import hashlib
import os
import random

PATIENTS_PER_EXTRACT = 668
PATNR_STRIDE = 100_000

COMMON = (
    "patient pijn gewrichten klachten controle poli beleid bloedonderzoek "
    "echo rontgen handen voeten knie schouder pols zwelling stijfheid "
    "vermoeidheid medicatie afspraak verwijzing huisarts lab uitslag "
    "lichamelijk onderzoek anamnese status follow-up conclusie plan "
    "gestart gestopt verhoogd normaal links rechts beiderzijds sinds "
    "weken maanden jaar dosering bijwerkingen tolerantie mobiliteit"
).split()
FILLER = (
    "de en van het een in is op met voor niet bij ook nog geen wel naar "
    "dat er zijn als door te"
).split()
POS_TERMS = ("reumatoide artritis", "rheumatoid arthritis", "ra")
POS_WORDS = (
    "methotrexaat mtx acpa reumafactor synovitis polyartritis erosies "
    "dmard hydroxychloroquine sulfasalazine prednison ochtendstijfheid "
    "symmetrische das28 biologicals etanercept adalimumab leflunomide"
).split()
NEG_WORDS = (
    "artrose jicht fibromyalgie tendinitis psoriasis spondylartritis "
    "osteoporose polymyalgie bursitis epicondylitis hypermobiliteit "
    "rugpijn overbelasting paracetamol nsaid fysiotherapie"
).split()
NEG_RA_MENTIONS = ("geen ra", "ra uitgesloten", "verdenking ra niet bevestigd")
PUNCT = "!#,.:@-+/&=$][<>'^*`’()"
MOJIBAKE = ("\xa0", "\t", "·")


def _rng(seed: int, extract: int, patient: int) -> random.Random:
    digest = hashlib.md5(f"{seed}|{extract}|{patient}".encode()).hexdigest()
    return random.Random(int(digest[:16], 16))


def _typo(rng: random.Random, word: str) -> str:
    if len(word) < 4:
        return word
    i = rng.randrange(len(word) - 1)
    if rng.random() < 0.5:
        return word[:i] + word[i + 1] + word[i] + word[i + 2:]
    return word[:i] + word[i + 1:]


def _entry_text(rng: random.Random, positive: bool) -> str:
    words = [rng.choice(COMMON if rng.random() < 0.6 else FILLER)
             for _ in range(rng.randint(8, 28))]
    if positive:
        if rng.random() < 0.7:
            words.insert(rng.randrange(len(words) + 1), rng.choice(POS_TERMS))
        for _ in range(rng.randint(1, 3)):
            words.insert(rng.randrange(len(words) + 1), rng.choice(POS_WORDS))
    else:
        if rng.random() < 0.1:
            words.insert(rng.randrange(len(words) + 1), rng.choice(NEG_RA_MENTIONS))
        for _ in range(rng.randint(1, 3)):
            words.insert(rng.randrange(len(words) + 1), rng.choice(NEG_WORDS))
        if rng.random() < 0.15:
            words.insert(rng.randrange(len(words) + 1), rng.choice(POS_WORDS))
    out = []
    for w in words:
        r = rng.random()
        if r < 0.05:
            w = _typo(rng, w)
        elif r < 0.07:
            w = w.upper()
        elif r < 0.08:
            w = w.capitalize()
        elif r < 0.10:
            w = w.replace("e", "ã«", 1)
        elif r < 0.16:
            w = w + rng.choice(PUNCT)
        elif r < 0.20:
            w = f"{w} {rng.randint(1, 400)}"
        elif r < 0.22:
            w = f"{rng.randint(1, 28):02d}-{rng.randint(1, 12):02d}-20{rng.randint(10, 23)}"
        out.append(w)
        out.append(rng.choice(MOJIBAKE) if rng.random() < 0.04 else " ")
    return "".join(out[:-1])


def patients(seed: int, extract: int):
    """Yield ``(patnr, label, [entry texts])`` for one extract."""
    for p in range(PATIENTS_PER_EXTRACT):
        rng = _rng(seed, extract, p)
        positive = rng.random() < 0.5
        n_entries = rng.choice((1, 2, 2, 3, 3, 3, 4, 4, 5, 6))
        yield (float(extract * PATNR_STRIDE + p), positive,
               [_entry_text(rng, positive) for _ in range(n_entries)])


def write_extract(path: str, seed: int, extract: int) -> list:
    """Write one extract as ``;``-CSV at ``path``; return its patients.

    Entries are written in an order shuffled across patients, as in an
    export sorted by date rather than by patient.
    """
    pats = list(patients(seed, extract))
    rows = [(patnr, label, text) for patnr, label, texts in pats for text in texts]
    _rng(seed, extract, -1).shuffle(rows)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write("PATNR;annotation;text\n")
        for patnr, label, text in rows:
            fh.write(f"{patnr!r};{'TRUE' if label else 'FALSE'};{text}\n")
    return pats


class ReferenceEP1:
    """Plain-Python EP1 over generated patients: the expected output.

    Mirrors the package's documented semantics step by step: entries of
    a patient joined by a space in text order (``merge_on_column``),
    label recoded to ``y``/``n``, the artefact map applied in order,
    sticky characters replaced by spaces and the text lowercased, then
    every space-separated word stemmed. The map, the character class and
    the stemmer are the package's own constants and reference function,
    so the check covers how the Spark plan composes them.
    """

    def __init__(self):
        import re

        from diagnosisextraction_ml_spark.functions.stemmer import stem_dutch
        from diagnosisextraction_ml_spark.functions.text import ARTEFACT_MAP, STICKY_CHARS_RE

        self._artefacts = list(ARTEFACT_MAP.items())
        self._sticky = re.compile(STICKY_CHARS_RE)
        self._stem_dutch = stem_dutch
        self._stems: dict[str, str] = {}

    def _stem(self, word: str) -> str:
        if word not in self._stems:
            self._stems[word] = self._stem_dutch(word)
        return self._stems[word]

    def text(self, entries: list[str]) -> str:
        t = " ".join(sorted(entries))
        for src, dst in self._artefacts:
            t = t.replace(src, dst)
        t = self._sticky.sub(" ", t).lower()
        return " ".join(self._stem(w) if w else w for w in t.split(" "))

    def rows(self, pats) -> list[tuple[float, str, str]]:
        """``(PATNR, Outcome, Text)`` per patient, sorted by PATNR."""
        return sorted((patnr, "y" if label else "n", self.text(texts))
                      for patnr, label, texts in pats)


def digest(rows) -> str:
    """Order-insensitive md5 of ``(PATNR, Outcome, Text)`` rows.

    Surrounding whitespace of the text is ignored: the CSV writer trims
    it by default.
    """
    h = hashlib.md5()
    for patnr, outcome, text in sorted(rows):
        h.update(f"{float(patnr)!r}|{outcome}|{text.strip()}\n".encode())
    return h.hexdigest()
