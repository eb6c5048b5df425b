"""Extended deterministic open-IE pattern engine (block/paragraph level).

This is the round-2 widening of C2 (SURVEY.md §2.3): the round-1 extractor
(`statements.extract_from_sentence`) matches exact inter-mention phrases —
enough for the closed-world synthetic corpus, but real biomedical prose uses
coordination, passives with displaced agents, nominalizations, composite
(synergy) constructions, and anaphoric continuations. The behavior spec for
these patterns is the reference's REAL per-sentence gold
(/root/reference/results/pmid9813040/sentences_with_extractions.json and
papers/pmid*.bel): every pattern family below is an honest general English
construction observed there, not a memorized sentence.

Pattern families
----------------
  coordination        "A, B and C are required for D"      -> one stmt per member
  active + filler     "X treatment induces translocation of Y into the nucleus"
  passive + agent     "Y isoform is up-regulated 4.5-fold by X"   (roles reversed)
  agentless passive   "..., Y is slightly down-regulated"  (agent carried over)
  nominal prefix      "induction of Y message ... following X treatment"
  nominal postfix     "Y phosphorylation by X"             (+ pmod)
  requires-composite  "Y phosphorylation by X requires Z"  -> composite(X, Z)
  synergize           "A and B synergize to control transcription from C and D"
  ability-composite   "X enhances the ability of Y to stimulate ... Z"
  fold-continuation   "induced 4.5-fold by A, 2.4-fold by B"
  both-hormones       "... and 13-fold by both hormones together" -> composite
  cnc                 "Y alone has minimal to no significant effect on Z"
  cnc+pretreatment    cnc(Y, Z) then "after X pretreatment, induction of Z"
                      -> composite(Y, X) increases Z (synergy reading)
  phospho-IP          "T is immunoprecipitated with the anti-phosphotyrosine
                      antibody ... following X" -> X increases p(T, pmod(Ph, Tyr))
  mediated-through    "effects of X mediated through Y"
  known-to-be-regulated  "genes known to be X regulated, A or B"
  group association   "A and B are associated"

All functions are pure (no Spark imports in the hot path) so the engine runs
inside the one extraction crossing (operators/fused.py) on any partitioning. Statements are deduped
per block by semantic signature (subject entity, relation, object entity,
object-localization wrapper, pmods) so surface-variant patterns that express
the same fact emit once.
"""

from __future__ import annotations

import re
from functools import lru_cache

from ..functions.bel import NS_FUNC, make_term
from .statements import extract_from_sentence

_SENT_SPLIT_RE = re.compile(r"(?<=[.!?])\s+")
# tokens whose trailing period is an abbreviation, not a sentence end
# ("(Fig. 5A), cellular migration" must stay one sentence); "g"/"e" are
# the final letters of "e.g."/"i.e.", "al" of "et al."
_SENT_ABBREV = frozenset(
    {"fig", "figs", "ref", "refs", "vs", "al", "g", "e", "cf", "ca"}
)
_ABBREV_TOK_RE = re.compile(r"(\w+)[.!?]+[)\]]*$")


# function words that continue a clause but can never OPEN an English
# sentence-after-noise-split context unambiguously enough to matter —
# the gate for treating ". <word>" as a typo'd non-boundary. Biomedical
# prose legitimately starts sentences with lowercase SYMBOLS (p53,
# eNOS, mTOR, β-catenin), so a bare islower() test over-merges; only a
# lowercase FUNCTION word after a period marks the mid-clause
# noise-split ("such as lysophosphatidic acid. also led to ...").
_LOWER_CONT_RE = re.compile(
    r"(?:also|and|but|or|nor|yet|so|thus|then|however|therefore|hence|"
    r"which|whereas|while|with|without|as|in|on|at|of|for|to|by|from|"
    r"the|a|an|this|these|those|that|its|their|such|after|before|"
    r"although|though|because|since|during|between|via|whose)\b"
)


def _sentence_spans(text: str) -> list[tuple[int, int]]:
    """Sentence (begin, end) spans, skipping splits after abbreviations
    and before a lowercase FUNCTION-word continuation (a mid-clause
    noise period: "acid. also led to ..."). Lowercase content words do
    NOT suppress the split — biomedical sentences legitimately open
    with lowercase symbols (p53, eNOS)."""
    spans: list[tuple[int, int]] = []
    start = 0
    for m in _SENT_SPLIT_RE.finditer(text):
        tok = _ABBREV_TOK_RE.search(text, max(0, m.start() - 12), m.start())
        if tok is not None and tok.group(1).lower() in _SENT_ABBREV:
            continue
        if _LOWER_CONT_RE.match(text, m.end()):
            continue
        spans.append((start, m.start()))
        start = m.end()
    spans.append((start, len(text)))
    return spans


_PAREN_RE = re.compile(r"\([^)]*\)")
_TOKEN_SPLIT_RE = re.compile(r"[\s,;:]+")
# negation cues anywhere in the inter-mention text kill the pair —
# "not only" is additive, not negative (prompt rule 4 generalized)
_NEG_RE = re.compile(
    r"\b(?:not(?!\s+only)|no|neither|nor|without|absence|unable|fail(?:s|ed)?|"
    r"cannot|lack(?:s|ed|ing)?)\b",
    re.I,
)
_NUM_RE = re.compile(r"^[\d.,–—-]+(?:-?fold)?$")

# ---------------------------------------------------------------------------
# vocabulary
# ---------------------------------------------------------------------------

_ACT_UP = {
    "induces", "induced", "induce", "enhances", "enhanced", "enhance",
    "promotes", "promoted", "promote", "stimulates", "stimulated", "stimulate",
    "increases", "increased", "increase", "elevates", "elevated", "elevate",
    "activates", "activated", "activate", "upregulates", "upregulated",
    "up-regulates", "up-regulated", "produces", "produced", "triggers",
    "trigger", "triggered", "potentiates", "potentiated", "augments",
    "augmented", "facilitates", "facilitated", "facilitate",
    "overexpress", "overexpresses", "overexpressed",
    "causes", "caused", "cause",
    "transactivates", "transactivated", "transactivate",
    "results", "resulted",
    # "led/leads to <Y>": the causal-consequence verb (bare "lead" is
    # excluded — it collides with the metal, a legitimate mention)
    "leads", "led",
}
_ACT_DOWN = {
    "inhibits", "inhibited", "inhibit", "suppresses", "suppressed", "suppress",
    "decreases", "decreased", "decrease", "reduces", "reduced", "reduce",
    "downregulates",
    "downregulated", "down-regulates", "down-regulated", "represses",
    "repressed", "impairs", "impaired", "blocks", "blocked", "abolishes",
    "abolished", "attenuates", "attenuated", "prevents", "prevented",
    "prevent", "inactivates", "inactivated", "inactivate",
}
_ACT_REG = {"regulates", "modulates", "controls"}

_PASSIVE_UP = {
    "up-regulated", "upregulated", "induced", "elevated", "increased",
    "enhanced", "stimulated", "activated", "promoted", "potentiated",
    "triggered",
}
_PASSIVE_DOWN = {
    "down-regulated", "downregulated", "suppressed", "inhibited", "reduced",
    "decreased", "repressed", "impaired", "attenuated", "inactivated",
}
_PASSIVE_REG = {"regulated", "modulated", "controlled"}
# every causal verb form, active and passive — idioms whose trigger is a
# suffix/prefix cue (not a verb) use this to refuse inter text that
# contains a competing predicate
_ALL_CAUSAL_VERBS = (
    _ACT_UP | _ACT_DOWN | _ACT_REG | _PASSIVE_UP | _PASSIVE_DOWN
    | _PASSIVE_REG
)
# hot-loop set unions, hoisted (the matchers below run per mention pair)
_CAUSAL_CORE = _ACT_UP | _ACT_DOWN | _ACT_REG
_VERBISH_PASSIVE = _CAUSAL_CORE | _PASSIVE_UP | _PASSIVE_DOWN
# nominal subject qualifiers the active matcher skips before the verb:
# "X function negatively regulates Y", "X expression enhances Y"
_SUBJ_QUALIFIERS = {"function", "activity", "expression", "protein"}

_NOMINAL_UP = {"induction", "activation", "up-regulation", "upregulation",
               "stimulation", "increase", "elevation", "enhancement",
               "overproduction", "overexpression"}
_NOMINAL_DOWN = {"inhibition", "suppression", "down-regulation",
                 "downregulation", "decrease", "reduction", "repression",
                 "attenuation", "loss"}
# nominals that imply a modification on the target
_NOMINAL_PMOD = {
    "phosphorylation": ("directlyIncreases", "Ph"),
    "hyperphosphorylation": ("directlyIncreases", "Ph"),
    "dephosphorylation": ("directlyDecreases", "Ph"),
    "acetylation": ("directlyIncreases", "Ac"),
    "methylation": ("directlyIncreases", "Me"),
    "ubiquitination": ("directlyIncreases", "Ub"),
    "sumoylation": ("directlyIncreases", "Sumo"),
}

# leading filler before an active verb in the inter text (modal/auxiliary
# verbs are general English pre-verb material: "can induce", "has induced")
_ACT_LEAD = {
    "treatment", "pretreatment", "not", "only", "also", "but", "further",
    "then", "thus", "to", "alone", "together", "which", "that", "levels",
    "level", "subsequently", "similarly",
    "can", "could", "may", "might", "will", "would", "has", "have", "had",
    "been", "shown", "demonstrated", "reported", "found",
    # monotone event nouns right of the subject mention ("ethanol
    # intoxication increases ...", "ROS overproduction triggers ..."):
    # the event is the PRESENCE of the subject, so the verb's direction
    # carries through unchanged (loss-nominals like "depletion" are NOT
    # here — those flip, via _ABLATION_PREFIX_RE on the prefix side)
    "intoxication", "exposure", "administration", "ingestion", "infusion",
    "supplementation", "overproduction", "stimulation",
    # locative adjunct between subject and verb ("The expression of
    # active Rac1 in many cell types causes ...")
    "in", "many", "cell", "cells", "types", "tissues",
}
_ACT_LEADS_Q = _ACT_LEAD | _SUBJ_QUALIFIERS  # hoisted hot-loop union
# filler between an active verb and the object mention
_ACT_TRAIL = {
    "the", "a", "an", "total", "extensive", "its", "their", "nuclear",
    "translocation", "of", "portion", "levels", "level", "expression",
    "transcription", "transcriptional", "activity", "from", "promoter",
    "promoters", "amount", "amounts", "endogenous", "corresponding",
    "significant", "similar", "comparable", "marked",
    "message", "mrna", "phosphorylation", "accumulation",
    "generation", "formation", "production", "sensitivity", "susceptibility",
    "to", "on", "both", "gene", "genes", "encoding", "enzymes", "enzyme",
    "effects", "effect", "cells", "cell", "cellular", "various", "different",
    "rise", "endothelial", "vascular", "arterial", "epithelial",
    "antioxidant", "growth", "factors", "factor", "including",
    "basal", "synthesis", "secretion", "release", "content",
}
# trail tokens that FLIP the verb's direction: "induces a reduction in X"
# composes induce(+) with reduction(-) -> decreases X; "has beneficial
# effects on <disease>" reads as decreases
_TRAIL_FLIP = set(_NOMINAL_DOWN) | {"beneficial", "protective"}
# participial direction words in the trail ("causes increased X" / "causes
# decreased X") compose with the verb exactly like the nominals above
_TRAIL_FLIP_PART = {"decreased", "reduced", "impaired", "diminished"}
_TRAIL_UP_PART = {"increased", "elevated", "enhanced"}
# inhibitory agent nouns: "<verb> the inhibitor OF <Y>" targets Y's
# inhibitor, so the verb's sign on Y flips (double-negative collapse:
# "inactivates the inhibitor of apoptosis" -> increases apoptosis)
_TRAIL_INHIB = {
    "inhibitor", "inhibitors", "repressor", "repressors",
    "suppressor", "suppressors", "antagonist", "antagonists",
}
# noun-head filler between the target mention and the passive copula
_PASSIVE_LEAD = {
    "isoform", "isoforms", "protein", "proteins", "levels", "level",
    "promoter", "promoters", "message", "expression", "gene", "genes",
    "mrna", "activity", "also", "abundance", "when", "if", "transcript",
    "transcripts",
}
# filler allowed between the passive verb and the final agent marker
_PASSIVE_MID = {
    "by", "of", "h", "min", "and", "remained", "elevated", "until", "to",
    "the", "as", "efficiently", "with", "treatment", "pretreatment", "lane",
    "lanes", "fig", "figs", "only", "antibody", "antibodies",
    "anti-phosphotyrosine", "immunoprecipitates", "at", "in", "cells",
    "wild-type",
}
# appositive filler allowed AFTER the agent marker, before the agent mention
# ("induced by different growth factors such as <A>, <B> and <C>")
_PASSIVE_APPOS = {
    "different", "growth", "factors", "factor", "hormones", "hormone",
    "stimuli", "agents", "such", "as", "the", "a", "an", "type", "types",
    "of", "various", "several", "wide", "variety", "compounds",
    "substances", "mediators", "including",
    # concentration units before the agent ("reduced by 0.25 \u03bcM
    # gefitinib")
    "\u03bcm", "\u00b5m", "nm",
}
# "<verb>ed in the absence of <Y>" — agent marker with a direction FLIP
# (the clause describes what happens WITHOUT the agent)
_ABSENCE_TAIL = ("in", "the", "absence", "of")
# prefix cue that flips an active verb's direction: "ablation of <X>
# abolished <Y>" means X POSITIVELY regulates Y
# canonical definition lives in operators/statements.py (the base
# sentence engine applies the same flip, so the two engines can never
# emit opposite signs for one sentence); re-exported here for the block
# engine's branches
from .statements import _ABLATION_PREFIX_RE  # noqa: E402,F401
_SITE_TOKEN_RE = re.compile(r"^(ser|thr|tyr|lys|arg)(\d+)(?:/.*)?$")
# --- genetic-perturbation (knockout) inference vocabulary ------------------
# context: "<G>−/− cells", "<G> knockouts", "<G> null", "<G>-deficient" —
# gene G is genetically removed in the described cells, so an event LOST in
# them is positively regulated by G and an event that RISES is negatively
# regulated (the same curator reasoning as papers/pmid16962653.bel)
_KO_SUFFIX_RE = re.compile(
    # no ^: applied via Pattern.match(text, pos, endpos), which anchors at
    # pos (an explicit ^ would only match at the true string start)
    r"(?:\s*[-−–—]/[-−–—]|\s+knockouts?\b|\s+null\b|\s*[-−]deficient\b"
    r"|\s+[-−–—]null\b)"  # post-_COMPOUND_SPLIT_RE form of "<G>-null"
)
# species-specific gene namespaces: a knockout statement whose subject and
# object ground to two DIFFERENT ones is a species mixup of the flat
# single-namespace lexicon — skip rather than guess
_GENE_NS = {"HGNC", "MGI", "RGD", "EGID", "UNIPROT"}
# a phospho event, optionally site-prefixed: "Ser473 phosphorylation",
# "Thr308 phosphorylation of Akt", "phosphorylation of FoxO1 at Thr24"
_KO_PHOS_RE = re.compile(
    r"(?:\b(Ser|Thr|Tyr|Lys|Arg)(\d+)\S*\s+)?\bphosphorylation\b"
)
_KO_AT_SITE_RE = re.compile(r"^\s+at\s+(Ser|Thr|Tyr|Lys|Arg)(\d+)", re.I)
# the event is LOST in the knockout -> G positively regulates it
_KO_LOST_RE = re.compile(
    r"^\s*(?:\([^)]*\)\s*)?,?\s*(?:was|were|is|are)\s+"
    r"(?:\w+ly\s+|also\s+|still\s+)*"
    r"(?:abolished|blocked|lost|eliminated|absent|impaired|prevented|"
    r"decreased|reduced|diminished|undetectable|"
    r"not\s+induced|not\s+detected|not\s+observed)\b"
)
# contrastive "...was not blocked": a causesNoChange, but only informative
# when a LOST event was stated alongside it ("although X was abolished, Y
# was not blocked"); a standalone negative control is curator noise
_KO_UNCHANGED_RE = re.compile(
    r"^\s*(?:\([^)]*\)\s*)?,?\s*(?:was|were|is|are)\s+(?:also\s+|still\s+)*"
    r"not\s+(?:blocked|inhibited|impaired|affected|altered|changed)\b"
)
# a nominal rise/fall of an event in the knockout cells
_KO_RISE_RE = re.compile(
    r"\b(increase|elevation|decrease|reduction)\s+in\b", re.I
)
_FLIP = {"increases": "decreases", "decreases": "increases",
         "directlyIncreases": "directlyDecreases",
         "directlyDecreases": "directlyIncreases"}
# site lists like "Ser939 and Thr1462", "Thr37/46", "Thr24/Thr32"
_SITE_LIST_ITEM_RE = re.compile(r"(Ser|Thr|Tyr|Lys|Arg)?\s*(\d+)", re.I)
_TARGET_SITE_TAIL_RE = re.compile(
    r"^\s+target\s+sites?\s+((?:(?:Ser|Thr|Tyr|Lys|Arg)?\d+(?:\s*(?:and|,|/)\s*)?)+)"
)
_PHOSPHO_OF_RE = re.compile(r"(?:^|[^a-z])phosphorylation\s+of\b")


# ASCII-hyphen compound premodifiers ("7-ketocholesterol-induced apoptosis",
# "IGF-I-mediated invasion") hide the inner mention from the word-boundary
# alias matcher: the char after the alias is "-", which is IN the boundary
# class. Normalizing a space in front of the hyphen exposes the mention and
# leaves the "-induced" inter text for the compound rule. Callers run this
# BEFORE matcher.find so mention offsets and pattern text agree.
_COMPOUND_SPLIT_RE = re.compile(
    # \s? : source formatting sometimes puts the space AFTER the hyphen
    # ("CXCR4- induced"), which equally hides the mention from the
    # [\w-]-boundary matcher
    r"(?<=\w)(?=[-−–]\s?(?:induced|mediated|triggered|stimulated|activated|"
    r"suppressed|inhibited|dependent|deficient|null)\b"
    # ASCII knockout marker "<G>-/-": the hyphen is a word char in the
    # matcher's [\w-] boundary class, so without the split the gene
    # mention is invisible (the unicode "−/−"/"–/–" forms are already
    # boundary-valid)
    r"|-/-"
    # fluorescent/epitope fusion tags ("HDAC5-GFP"): the tagged protein
    # is the mention, the tag is reporter plumbing
    r"|[-−–](?:GFP|YFP|CFP|RFP|mCherry|FLAG|HA|Myc)\b)"
)


def normalize_block_text(text: str) -> str:
    return _COMPOUND_SPLIT_RE.sub(" ", text)


def _parse_site_list(span: str) -> list[tuple[str, int]]:
    """"Ser939 and Thr1462" / "Thr37/46" -> [(Ser,939),(Thr,1462)] with
    residue carry-forward for bare numbers."""
    out = []
    last_res = None
    for m in _SITE_LIST_ITEM_RE.finditer(span):
        res = m.group(1)
        if res:
            last_res = res.capitalize()
        if last_res is None:
            continue
        out.append((last_res, int(m.group(2))))
    return out
_NOMINAL_MID = {
    "message", "mrna", "at", "and", "h", "min", "levels", "level",
    "expression", "protein", "transcript",
}
# "in_response_to" is the collapsed trigram "in response to" ("JAK1 and
# JAK2 are activated in response to IL-6, CNTF and LIF")
_AGENT_MARKERS = {"by", "after", "following", "upon", "in_response_to"}

_SITE_RE = re.compile(
    r"^[\s]*(?:on|at)\s+"
    r"(serine|threonine|tyrosine|lysine|arginine|Ser|Thr|Tyr|Lys|Arg)\s*(\d+)",
    re.I,
)
_RESIDUE_3 = {
    "serine": "Ser", "threonine": "Thr", "tyrosine": "Tyr",
    "lysine": "Lys", "arginine": "Arg",
    "ser": "Ser", "thr": "Thr", "tyr": "Tyr", "lys": "Lys", "arg": "Arg",
}

_RNA_AFTER_RE = re.compile(
    # no ^: applied via Pattern.match(text, pos), which anchors at pos
    # (an explicit ^ would only match at the true string start)
    r"[\s\-]*(?:luciferase\s+)?(?:promoter|message|mrna|transcript)", re.I
)
_RNA_BEFORE_RE = re.compile(
    # "transcription from the X" | "expression of (the) X" | the same
    # expression context distributing over a short coordination
    # ("expression of HGF and (the) Met receptor")
    r"(?:transcription\s+from\s+(?:the\s+)?"
    r"|expression\s+of\s+(?:the\s+)?"
    r"|expression\s+of\s+(?:[\w\-]+\s+){1,3}and\s+(?:the\s+)?)$",
    re.I,
)
# "genetic alterations of X" / "mutations of X" — the mention denotes the
# GENE (BEL g()), the convention the curators use for genotype statements
_GENE_BEFORE_RE = re.compile(
    r"(?:genetic\s+)?(?:alterations?|mutations?)\s+of\s+(?:the\s+)?$", re.I
)
_TLOC_AFTER_RE = re.compile(r"^\s+into\s+the\s+nucleus", re.I)
_BOTH_TOGETHER_RE = re.compile(
    r"\b(?:by\s+)?both\s+(?:hormones|agents|treatments|factors)\b"
    r"|\btogether[\s,]+the\s+two\b|\bthe\s+two\s+hormones\b",
    re.I,
)
_CNC_RE = re.compile(
    r"^(?:alone\s+)?ha[sd]\s+(?:minimal(?:\s+to\s+no)?|no|little)\s+"
    r"(?:significant\s+)?effect\s+on(?:\s+(?:the|a|an))?$"
)
# anaphoric plural subject: "These two proteins are up-regulated during X"
# -> X positiveCorrelation <each of the last N protein mentions>
_ANAPHOR_DURING_RE = re.compile(
    r"(?:these|those|both)\s+(two|three|four)?\s*"
    r"(?:proteins|genes|factors|kinases)\s+(?:are|were)\s+(?:also\s+)?"
    r"(up-?regulated|induced|elevated|increased|down-?regulated|suppressed|"
    r"reduced)\s+during\s+(?:the\s+)?$",
    re.I,
)
_N_WORD = {"two": 2, "three": 3, "four": 4}
_PROTEIN_NS = {"HGNC", "SFAM", "UNIPROT", "FPLX"}
_PRETREAT_PREFIX_RE = re.compile(r"(?:after|following|upon)\s+$", re.I)
_NOMINAL_PREFIX_RE = re.compile(
    r"([a-z\-]+)\s+of\s+(?:the\s+)?$"
)
_KNOWN_TO_BE_RE = re.compile(r"known\s+to\s+be\s+$", re.I)
# comparative adjunct right before a mention group ("more efficiently
# than <Z> and increased ..."): the mention belongs to the than-clause,
# so a following conjoined VP re-binds to the MATRIX subjects as well
_THAN_BEFORE_RE = re.compile(r"\bthan\s+(?:[\w\-]+\s+){0,2}$", re.I)
# family-member anaphora head: a symbol token naming a family right
# before "phosphorylation" ("GSK-3 phosphorylation")
_FAM_PHOS_RE = re.compile(
    r"\b([A-Za-z][A-Za-z0-9-]{2,})[ -]phosphorylation\b"
)
# a member alias extends the family token with an optional hyphen plus
# a Greek letter / spelled Greek word, or a HYPHEN plus one uppercase
# Latin letter (GSK-3α, TGF-beta, VEGF-A). Digits excluded ("CD40" is a
# different gene, not a member of "CD4"); lowercase letters excluded
# ("CDKs" is a plural); an UNhyphenated Latin letter excluded too —
# "EGFR" is EGF's RECEPTOR, a different protein, not a paralog.
_FAM_EXT_RE = re.compile(
    r"(?:-?(?:[αβγδεκσω]|alpha|beta|gamma|delta|epsilon|kappa)|-[A-Z])$"
)
_POSS_NOMINAL_RE = re.compile(
    r"\b(?:its|their)\s+([a-z\-]+)\s+of"
    r"(?:\s+the\s+activity\s+of)?(?:\s+the)?\s*$"
)
_MEDIATED_RE = re.compile(
    r"^(?:\w+\s+){0,4}?[‐-]?\s*mediated\s+(?:through|by|via)$"
)
# event nominal directly before a mention ("Acute activation of <Y> ...")
# — the mention is the nominal's patient, not an agent
_NOMINAL_OF_PREFIX_RE = re.compile(r"([A-Za-z-]+)\s+of(?:\s+\w+){0,2}\s+$")
_FOLD_CONT_RE = re.compile(
    r"^(?:and\s+)?[\d.,–—-]+\s*-?fold\s+by$"
)

# ---- round-4 idioms (the last three pattern_gap misses of the audit) ------
# protective-agent correlation: "<B> ... protect(s) ... from <A>-induced
# <process>" — the insult agent negatively correlates with the protector;
# curators write the insult as the statement subject
_PROTECT_FROM_RE = re.compile(r"\bprotects?\b[^.;]*\bfrom$", re.I)
_INDUCED_AFTER_RE = re.compile(r"^\s*[-−–—]induced\b", re.I)
# site-modification mediates a binary interaction: "<Mod> at ... <residue>
# residue(s) on (the) <A> ... mediates interaction(s) between ... <B> ...
# and <A>" -> p(A, pmod) directlyIncreases complex(p(B), p(A))
_MEDIATES_BETWEEN_RE = re.compile(
    r"\bmediates\s+(?:the\s+)?interactions?\s+between\b", re.I
)
_MOD_RESIDUES_ON_RE = re.compile(
    r"\b(hydroxylation|phosphorylation|methylation|acetylation|"
    r"ubiquitination|sumoylation)\s+(?:at|of)\s+[\w\s,-]{0,40}?"
    r"(proline|serine|threonine|tyrosine|lysine|arginine)\s+residues?\s+"
    r"on\s+(?:the\s+)?",
    re.I,
)
_MOD_NOMINAL_CODE = {
    "hydroxylation": "H",  # the gold corpus uses the BEL-1 code for Hyx
    "phosphorylation": "Ph", "methylation": "Me", "acetylation": "Ac",
    "ubiquitination": "Ub", "sumoylation": "Sumo",
}
_RESIDUE_NAME_CODE = {
    # proline keeps the gold's single-letter form (no 1->3 normalization
    # rule exists for P, so 3-letter "Pro" would never match a gold)
    "proline": "P", "serine": "Ser", "threonine": "Thr",
    "tyrosine": "Tyr", "lysine": "Lys", "arginine": "Arg",
}
# knockout-comparison target discovery: "(the) gene encoding ... <B> ...
# discovered/identified as ... based on ... <A>-null ... wild-type <A>"
# -> the gene surfaced BECAUSE it is derepressed in the null: A decreases
# r(B) (the same curator reasoning as the knockout-inference rules)
_GENE_ENCODING_RE = re.compile(
    r"\bgene\s+encoding\s+(?:the\s+)?(?:[\w\-]+\s+){0,4}$", re.I
)
_DISCOVERED_AS_RE = re.compile(
    r"\b(?:discovered|identified)\s+as\b", re.I
)


# ---- round-4b idioms (the audit's mechanism-wrapper golds) ----------------
# Each emits the BEL-1 mechanism wrapper the text itself names (function/
# activity -> act(), transcriptional activity -> tscript(), enzymatic/
# catalytic -> cat(), kinase -> kin(), degradation/turnover -> deg()).
# self-activation by site phosphorylation: "Phosphorylation at Ser473,
# along with Thr308 ..., is (deemed) necessary for <X> function" — each
# named site's phospho-form activates X itself
_PHOS_NECESSARY_RE = re.compile(
    r"\bphosphorylation\s+at\s+([^.;]{0,80}?),?\s+(?:is|are)\s+"
    r"(?:deemed\s+|considered\s+|thought\s+to\s+be\s+)?"
    r"(?:necessary|required|essential|critical)\s+for\s+(?:the\s+)?$",
    re.I,
)
_FUNC_AFTER_RE = re.compile(r"\s+(function|activity|activation)\b", re.I)
# "<X>-<Site> phosphorylation is (also) required for <Y> phosphorylation
# (at <sites>)": the site phospho-form activates X (self-statement), and
# active X drives Y's phosphorylation at the named site
_SITEPHOS_REQUIRED_RE = re.compile(
    r"^[\s,;:−–—-]*(Ser|Thr|Tyr|Lys|Arg)(\d+)(?:/\d+)*\s+phosphorylation\s+"
    r"(?:is|was|are|were)\s+(?:\w+ly\s+|also\s+)*required\s+for$",
    re.I,
)
_PHOS_AT_AFTER_RE = re.compile(
    r"\s+phosphorylation(?:\s+at\s+((?:Ser|Thr|Tyr|Lys|Arg)?\s*\d+"
    r"(?:\s*(?:/|,|and)\s*(?:Ser|Thr|Tyr|Lys|Arg)?\s*\d+)*))?",
    re.I,
)
# modification events as regulators of an activity: "... acetylation (Ac)
# event at lysine 532 ... act as negative regulators of the transcriptional
# activity of <X>" -> p(X, pmod) directlyDecreases tscript(p(X))
_MOD_EVENT_RE = re.compile(
    r"(?:\b(proline|serine|threonine|tyrosine|lysine|arginine|asparagine)"
    r"\s+)?\b(hydroxylation|phosphorylation|methylation|acetylation|"
    r"ubiquitination|sumoylation)\s*(?:\([^)]*\)\s*)?(?:event\s+)?"
    r"(?:at\s+(?:(proline|serine|threonine|tyrosine|lysine|arginine|"
    r"asparagine)\s+)?(?:position\s+)?(\d+))?",
    re.I,
)
_REGULATORS_OF_ACTIVITY_RE = re.compile(
    r"\bact(?:s|ing)?\s+as\s+(?:a\s+)?(negative|positive)\s+"
    r"regulators?\s+of\s+the\s+(\w+\s+)?activity\s+of\s+(?:the\s+)?$",
    re.I,
)
_ACTIVITY_WRAP = {"transcriptional": "tscript", "enzymatic": "cat",
                  "catalytic": "cat", "kinase": "kin"}
# the modification itself as degradation signal: "(Proline) hydroxylation
# marks <X> for degradation" -> p(X, pmod) directlyIncreases deg(p(X))
_MOD_MARKS_RE = re.compile(
    r"(?:\b(proline|serine|threonine|tyrosine|lysine|arginine|asparagine)"
    r"\s+)?\b(hydroxylation|phosphorylation|methylation|acetylation|"
    r"ubiquitination|sumoylation)\s+marks?\s+(?:the\s+)?$",
    re.I,
)
# reversed turnover attribution: "<Y>, mediates its turnover ... of <X>"
# (the agent X follows) -> X directlyIncreases deg(Y)
_MEDIATES_TURNOVER_RE = re.compile(
    r"^,?\s*mediates\s+its\s+turnover\b[^.;]*?\bof$", re.I
)
# "-dependent" attribution: "<nominal> of <B> ... is ... <X>-dependent"
# -> X <nominal-direction> B (the compound splitter has already exposed
# the mention, so the suffix starts with whitespace + dash)
_DEPENDENT_AFTER_RE = re.compile(r"^\s*[−–—-]\s?dependent\b", re.I)
# anaphoric activity attribution after an active pair: "<A> ... <B> and
# further stimulates its enzymatic activity" -> A rel act(B)
_ITS_ACTIVITY_AFTER_RE = re.compile(
    r"^[\s),.]*(?:and\s+)?(?:further\s+|also\s+)?"
    r"(stimulates|enhances|increases|activates|inhibits|suppresses|"
    r"decreases|reduces)\s+its\s+(?:(\w+)\s+)?activity\b",
    re.I,
)
_ITS_ACTIVITY_UP = {"stimulates", "enhances", "increases", "activates"}
# production consequence: "..., leading to ... concentrations/levels of
# <B>" -> left increases B (an explicit reduced/decreased adjective flips)
_LEADING_TO_OF_RE = re.compile(
    r"\bleading\s+to\s+((?:[\w-]+\s+){0,4}?)"
    r"(?:concentrations?|levels?|amounts?|production|generation|"
    r"accumulation)\s+of$",
    re.I,
)
_LEADING_DOWN = {"reduced", "decreased", "diminished", "lower", "lowered"}
# consequence chain: "<A> rel <B>, (thereby) resulting in the <nominal>
# of <C>" — the nominal gives C's direction in the narrated scenario;
# sign(B -> C) = scenario(B) * scenario(C), where scenario(B) is the
# PRE-flip sign of the pair that just emitted (ablation flips the emitted
# statement, not the narrated direction)
_RESULTING_IN_RE = re.compile(
    r"^[),.\s]*(?:thereby\s+|thus\s+)?resulting\s+in\s+"
    r"(?:the\s+|a\s+|an\s+)?([a-z\-]+)\s+of$"
)
_REL_SIGN = {"increases": 1, "directlyIncreases": 1,
             "positiveCorrelation": 1, "decreases": -1,
             "directlyDecreases": -1, "negativeCorrelation": -1}
# trailing present-participle consequence: "<A> ..., causing (cytolytic)
# <B>" — the participle names what A's event does to B; the instrumental
# "by <gerund>" form never reaches this rule because "by" is not a lead
_PARTICIPLE_UP = {"causing", "inducing", "triggering", "promoting",
                  "enhancing", "stimulating", "activating", "increasing",
                  "elevating", "upregulating", "up-regulating",
                  "generating", "producing"}
_PARTICIPLE_DOWN = {"suppressing", "inhibiting", "reducing", "preventing",
                    "blocking", "decreasing", "impairing", "attenuating",
                    "downregulating", "down-regulating", "abolishing"}
# defining-feature association: "<A> (is) characterized by (the presence
# of tiny) <B>" — a defining co-occurrence, recorded non-directionally
_CHARACTERIZED_BY_RE = re.compile(
    r"^(?:(?:and|which|that)\s+)?(?:is\s+|are\s+|was\s+|were\s+)?"
    r"characteri[sz]ed\s+by\b(?:\s+[\w-]+){0,6}$"
)
# possessive-ability predicate: "<A> ... (for) its ability to promote
# (endothelial cell) <B>" -> A rel B by the infinitive's direction
_ABILITY_TO_RE = re.compile(
    r"\b(?:for\s+)?(?:its|their)\s+ability\s+to\s+([a-z\-]+)"
    r"(?:\s+[a-z\-]+){0,3}$"
)
# possessive-role gerund: "<A> ... (for) its role in initiating ... and
# sustaining <B>" -> A rel B by the direction of the LAST gerund before
# the object (each conjunct's gerund governs its own object)
_ROLE_IN_RE = re.compile(r"\b(?:for\s+)?(?:its|their)\s+role\s+in\b")
# agent-noun predicate: "<X> is an essential mediator of <Y1> and <Y2>"
# -> X rel Y by the agent noun's direction
_AGENT_NOUN_RE = re.compile(
    r"^(?:is|are|acts?\s+as|serves?\s+as)\s+(?:a|an|the)\s+(?:[\w-]+\s+){0,2}?"
    r"(mediator|driver|inducer|activator|stimulator|enhancer|promoter|"
    r"inhibitor|suppressor|repressor|regulator)s?\s+of(?:\s+[\w-]+){0,3}$"
)
_AGENT_NOUN_DIR = {
    "mediator": 1, "driver": 1, "inducer": 1, "activator": 1,
    "stimulator": 1, "enhancer": 1, "promoter": 1,
    "inhibitor": -1, "suppressor": -1, "repressor": -1, "regulator": 0,
}
# a coordination member followed by "-induced/-mediated/... <head>" is a
# premodifier of the next mention, not a list member ("cell migration and
# VEGF -induced angiogenesis": the second conjunct is angiogenesis)
_PREMOD_AFTER_RE = re.compile(
    r"^\s*[-−–]\s*(?:induced|mediated|triggered|stimulated|activated|"
    r"dependent)\s+$"
)
# prefix form: the mention is premodifier-marked even when more words
# follow before the head ("VEGF -dependent retinal and luteal
# angiogenesis"). No ^: applied via Pattern.match(text, pos, endpos),
# which anchors at pos (an explicit ^ would only match at string start).
_PREMOD_HEAD_RE = re.compile(
    r"\s*[-−–]\s*(?:induced|mediated|triggered|stimulated|activated|"
    r"dependent)\b"
)
# donor-rescue: "<X> donors ... rescued <Y1>, <Y2> and <Y3>" — supplying
# X restores the impaired processes, so X increases each
# [^;]* not [^.;]*: the inter text is already sentence-sliced, so any "."
# inside it is a decimal ("SNP 0.1 mM") or "Fig." abbreviation
_DONOR_RESCUE_RE = re.compile(r"^donors?\b[^;]*\brescued\b")
# clause connectives that must never be absorbed as list filler
_CONNECTIVES = frozenset({
    "while", "whereas", "whilst", "although", "though", "but", "which",
    "that", "when", "if", "because", "since", "whose", "unlike", "versus",
    "and", "or", "not", "no",
})
# contrast clause whose subject inherits the PREVIOUS statement's object
# through "it": "... increase eNOS expression while hypoxia and oxidized
# LDL decrease it"
_WHILE_BEFORE_RE = re.compile(r"\b(?:while|whereas|whilst)\s+$")
_VERB_IT_RE = re.compile(r"^\s*(?:and\s+(?:[\w-]+\s+){0,3})?(\w+)\s+it\b")
# knockout-rescue: "rescued/restored the impaired <Y> ... in <G>-/- mice"
# — the deficit existed because G was removed, so G increases Y
_RESCUED_IMPAIRED_RE = re.compile(
    r"\b(?:rescued|restored)\s+the\s+"
    r"(?:impaired|decreased|reduced|defective)\s+", re.I
)
# tail-anchored by-gerund whose agent is THIS pair's left mention ("<X>
# overproduction ... by inducing <Y>"); the matrix verb's own sign is
# irrelevant — the by-clause is the mechanism the subject performs
_BY_GERUND_TAIL_RE = re.compile(r"\bby\s+([a-z\-]+)$")
# characterized-by with an event delta: "<P> ..., characterized by
# increased <A> and <B>" — the deltas are constituent events of P
_CHAR_BY_DELTA_RE = re.compile(
    r"characteri[sz]ed\s+by\s+(?:increased|elevated)$"
)
# hedged involvement resolved to direction by an infinitive of purpose:
# "<X> are involved in signaling to mediate <Y>"
_INVOLVED_MEDIATE_RE = re.compile(
    # anchored at the left mention (copula + involvement directly follow
    # it), so the rule needs no sentence-subject check
    r"^(?:is|are|has\s+been|have\s+been)\s+(?:also\s+)?"
    r"(?:involved|implicated)\s+in\b[^,;]*\bto\s+"
    r"(?:mediate|promote|drive|induce|stimulate|enhance|support)\s*$"
)
# pair-local consequence: "<A> up-regulates ..., resulting in an
# increase of <B>" — the result is attributed to the subject whatever
# the matrix verb's sign
_RESULTING_SEG_RE = re.compile(
    r"\bresulting\s+in\s+(?:a|an|the)?\s*([a-z\-]+)\s+(?:of|in)"
    r"(?:\s+[\w-]+){0,2}\s*$"
)
# nuclear efflux: "<A> caused ... efflux of <X> ... from nuclei" ->
# A increases tloc(X, Cell Nucleus, Cytoplasm)
_EFFLUX_OF_RE = re.compile(
    r"\b(?:caused|induced|increased|stimulated|promoted)\b[^;]*"
    r"\b(?:efflux|export|exit)\s+of$"
)
_FROM_NUCLEUS_RE = re.compile(r"\bfrom\s+(?:the\s+)?nucle")
# exemplification-list anaphora: "some drugs (e.g. <A>, <B>, <C>) ..."
# binds the members to the class noun; a later sentence's "Such drugs
# therefore <verb> ... namely <objs>" predicates over the members
_EG_PAREN_RE = re.compile(r"\(e\.g\.?[^)]*\)")
_SUCH_VERB_RE = re.compile(
    r"\s*such\s+\w+\s+"
    r"(?:(?:therefore|also|thus|then|likewise|similarly)\s+)*([a-z\-]+)"
)
_NAMELY_RE = re.compile(r"\bnamely\b")
# causal attribution to a loss: "<Y>(-induced) (cell-surface) expression
# due to the loss of <X>" -> X decreases the (up-)event of Y
_DUE_TO_LOSS_RE = re.compile(
    r"\bdue\s+to\s+the\s+loss\s+of$"
)
# "<Y> ... increases ... following <nominal> of <X>": the agent arrives
# as a trailing event nominal; direction = verb sign x nominal sign
_FOLLOWING_NOMINAL_RE = re.compile(
    r"\b(increases?|increased|decreases?|decreased|rises?|rose|falls?|"
    r"fell)\b[^;]*\bfollowing\s+([a-z\-]+)\s+of$"
)
# contrast exclusion: "<A>, but not <B>, <verb> <Y>" — B gets
# causesNoChange while A takes the verb
_BUT_NOT_SEP_RE = re.compile(r"^,?\s*but\s+not\s*,?$")
# "<Y> ... is a direct target for <X>" -> X directlyIncreases Y
_DIRECT_TARGET_RE = re.compile(
    r"^(?:is|are)\s+a\s+direct\s+target\s+(?:for|of)$"
)
# targeting-therapy exemplification: "Therapies that target <Y>, such as
# <X>, are effective" -> X decreases Y
_TARGETS_BEFORE_RE = re.compile(r"\btargets?\s+(?:the\s+)?$")
_SUCH_AS_SEP_RE = re.compile(r"^[\s,()]*such\s+as[\s,()]*$")
# "Both kinases were able to phosphorylate <Y1>, <Y2> ...": anaphoric
# dual subject over the two most recent distinct protein mentions
_BOTH_ABLE_RE = re.compile(
    r"\s*both\s+\w+\s+(?:were|are|was|is)\s+able\s+to\s+([a-z]+)"
)
_INFINITIVE_PMOD = {
    "phosphorylate": ("directlyIncreases", "Ph"),
    "dephosphorylate": ("directlyDecreases", "Ph"),
    "acetylate": ("directlyIncreases", "Ac"),
    "methylate": ("directlyIncreases", "Me"),
    "ubiquitinate": ("directlyIncreases", "Ub"),
}
# premodifier with an event nominal: "<X> -mediated activation of the
# <Y> (gene promoter)" -> X rel Y by the nominal's direction
_MEDIATED_NOMINAL_RE = re.compile(
    r"^[-−–]\s?mediated\s+([a-z\-]+)\s+of(?:\s+the)?$"
)
# protein-orthography bridge for knockout blocks: "Pgf-/- mice ... loss
# of PlGF impaired <Y>" — the protein symbol inserts letters into the
# gene symbol (Pgf -> PlGF). Only inside a block that carries the
# KO-marked gene, only for the loss-of construction, and only when the
# token is the gene's subsequence twin (same first letter, <=2 inserted
# letters) — a mechanical orthography rule, not an alias table.
_LOSS_OF_TOKEN_RE = re.compile(
    r"\bloss\s+of\s+(\w{3,12})\s+"
    r"(?:impaired|decreased|reduced|abolished|prevented)\s+", re.I
)


def _protein_gene_twin(token: str, gene: str) -> bool:
    token, gene = token.lower(), gene.lower()
    if token == gene or not gene or token[0] != gene[0]:
        return token == gene
    if not 0 <= len(token) - len(gene) <= 2:
        return False
    it = iter(token)
    return all(ch in it for ch in gene)
_GERUND_DIR = {
    "initiating": 1, "sustaining": 1, "maintaining": 1, "promoting": 1,
    "enhancing": 1, "stimulating": 1, "inducing": 1, "triggering": 1,
    "driving": 1, "increasing": 1, "mediating": 1, "supporting": 1,
    "inhibiting": -1, "suppressing": -1, "blocking": -1, "preventing": -1,
    "attenuating": -1, "limiting": -1, "reducing": -1, "decreasing": -1,
    "impairing": -1,
}
# substrate attribution: "(known) <X> substrates" names X as the kinase
# of whatever the block then reports as "phosphorylation of <Y> at
# <site>" -> act(X) directlyIncreases p(Y, pmod(Ph, site))
_SUBSTRATES_AFTER_RE = re.compile(r"\s+substrates?\b")
_PHOSPHO_OF_SEP_RE = re.compile(
    r"\bphosphorylation\s+of\s+(?:the\s+)?", re.I
)
# adjectival KO rise: "In a <G>-null tumour, <Y> is constitutively
# active" -> G decreases act(Y)
_CONST_ACTIVE_RE = re.compile(
    r"\b(?:is|are|was|were|remains?)\s+constitutively\s+"
    r"(?:active|activated|expressed|stabili[sz]ed)\b",
    re.I,
)

_CITE_RE = re.compile(r"\[[^\]]*\]")

# hot-loop patterns, precompiled: the re module's function wrappers cost a
# cache-dict lookup per call, which profiled at ~10% of extract_from_block
_OPEN_PAREN_SEP_RE = re.compile(r"\s*\(\s*")
_NON_LETTER_RE = re.compile(r"[^A-Za-z\- ]+")
_AGENTLESS_PASSIVE_RE = re.compile(
    r"^\s*(?:is|are|was|were)\s+(?:\w+ly\s+)?([a-z\-]+)[\s.,;]*$"
)
_COMPOUND_SUFFIX_RE = re.compile(r"[-−–‐]\s*([a-z\-]+)")
_ACTIVITY_OF_RE = re.compile(r"\b[a-z]+ activity of $")
_OF_SEP_RE = re.compile(r"\s*of\s+")
_AND_SEP_RE = re.compile(r"[\s)]*and[\s(]*")
_WILDTYPE_RE = re.compile(r"wild-?\s?type\s+")
_TREATMENT_ABILITY_RE = re.compile(
    r"(?:pre)?treatment\s+(?:of\s+(?:\w+\s+){0,3})?"
    r"enhance[sd]?\s+the\s+ability\s+of"
)
_ABILITY_RE = re.compile(r"enhance[sd]?\s+the\s+ability\s+of")
_ON_DET_RE = re.compile(r"on\s+(?:a|an|the)?")
_REQUIRES_RE = re.compile(r"requires\s+(?:the\s+presence\s+of)?")
_TSCRIPT_EFFECTS_RE = re.compile(
    r"transcription(?:al)?\s+effects\s+of\s+\S*\s*$"
)
_NOMINAL_BY_RE = re.compile(r"([a-z\-]+)\s+by")
_FACTOR_AFTER_RE = re.compile(r"^\s*(?:factor|inducer|agent)\b")
_AND_OR_SEARCH_RE = re.compile(r"\s(?:and|or)\s")
_AND_OR_SPLIT_RE = re.compile(r"\s+(?:and|or)\s+")
_GROUP_ASSOC_RE = re.compile(r"^\s*(?:are|were)\s+(?:\w+ly\s+)?associated\b")
_MEDIATED_SITE_RE = re.compile(r"^\s*[-−]mediated\s+site\b")
_DEPENDENCE_RE = re.compile(r"^[\s\-]*dependence\s+of\s+this\s+effect")
_PHOSPHO_AFTER_RE = re.compile(r"^\s+phosphorylation\b")


@lru_cache(maxsize=8192)
def _tokens_cached(s: str) -> tuple[str, ...]:
    if "(" in s:  # skip the allocating sub on the common aside-free segment
        s = _PAREN_RE.sub(" ", s)
    if "[" in s:
        s = _CITE_RE.sub(" ", s)
    # a paren that OPENED before the segment leaves a dangling ")" token
    # ("<X> (ALIAS) stimulates <Y>" -> inter ") stimulates") — strip
    # bracket AND quote residue at token edges so the verb matchers see
    # the verb ("...(Smac/DIABLO)' inactivates ..." leaves a "'" token)
    return tuple(
        t
        for t in (
            tok.strip("()[]'\"") for tok in _TOKEN_SPLIT_RE.split(s.strip())
        )
        if t
    )


def _tokens(s: str) -> list[str]:
    """Lowercased tokens with parenthesized asides and [citation] brackets
    removed. Cached: every matcher re-tokenizes the same inter-mention
    segment (profiled 403k calls / block run), so the split runs once per
    distinct segment; the list() copy keeps callers' slice-vs-list
    comparisons working."""
    return list(_tokens_cached(s))


def _is_num(tok: str) -> bool:
    return bool(_NUM_RE.match(tok)) or tok in {"fold", "nm", "h", "min"}


# ---------------------------------------------------------------------------
# mention pre-processing
# ---------------------------------------------------------------------------


def _merge_abbrev(ms: list[dict], text: str) -> list[dict]:
    """Merge "Long Name (ABBR)" pairs that ground to the same entity into a
    single logical mention spanning both (Gilda-style span coalescing)."""
    out: list[dict] = []
    i = 0
    while i < len(ms):
        m = dict(ms[i])
        if (
            i + 1 < len(ms)
            and ms[i + 1]["db"] == m["db"]
            and ms[i + 1]["id"] == m["id"]
            and _OPEN_PAREN_SEP_RE.fullmatch(text[m["end"]: ms[i + 1]["begin"]])
        ):
            end = ms[i + 1]["end"]
            if end < len(text) and text[end] == ")":
                end += 1
            m["end"] = end
            i += 2
        else:
            i += 1
        out.append(m)
    return out


# bare plural class nouns that read as head-of-apposition between a class
# mention and its instances ("the antioxidant enzymes SOD1 and GPX1"): a
# closed whitelist because without a determiner this position is exactly
# where a 3rd-person verb would sit ("X mimics Y" must NOT group)
_CLASS_NOUNS = frozenset({
    "enzymes", "proteins", "genes", "factors", "kinases", "phosphatases",
    "cytokines", "chemokines", "receptors", "molecules", "isoforms",
    "members", "subunits", "homologs", "compounds", "hormones",
    "antioxidants", "mediators",
})


@lru_cache(maxsize=8192)
def _is_coord_sep(sep: str) -> bool:
    """True when the text between two mentions reads as list coordination:
    pure punctuation, an and/or with at most 3 non-verbish filler tokens
    (parenthesized asides like "(92 kDa)" or "(30,38)" are ignored), or a
    class-noun apposition head ("the antioxidant enzymes <A> and <B>",
    "two potent antioxidants, the aminothiols <A> and <B>").
    Cached: _coord_group probes the same separator from both directions and
    from every member of a run."""
    stripped = _PAREN_RE.sub(" ", sep) if "(" in sep else sep
    letters = _NON_LETTER_RE.sub(" ", stripped).strip().lower()
    if not letters:
        return True  # appositive / list comma
    toks = letters.split()
    verbish = _VERBISH_PASSIVE
    # the conjunction must LEAD the letter content ("and the shorter") —
    # a trailing/mid conjunction ("cells upon serum and") is clause text,
    # not list coordination
    if toks[0] in ("and", "or"):
        toks = toks[1:]
        if len(toks) > 3:
            return False
        return all(t not in verbish for t in toks)
    # class-noun apposition: a determiner followed by exactly one plural
    # noun ("the aminothiols") — a verb cannot follow a determiner, so the
    # grammar itself guarantees a noun; without the determiner, only the
    # whitelisted class nouns (a bare s-token here could be a verb)
    if toks[0] in ("the", "a", "an") and len(toks) == 2:
        t = toks[1]
        return (t.endswith("s") and len(t) >= 4 and t not in verbish
                and t not in ("its", "this", "thus", "does", "was"))
    if len(toks) == 1 and toks[0] in _CLASS_NOUNS:
        return True
    # a comma-bounded non-mention list item ("histamine, adenine
    # nucleotides, arachidonic acid"): both commas present, 1-3 tokens,
    # no determiner lead (", a chronic disease," is an appositive
    # definition, not a skipped conjunct), nothing verbish/connective
    s = sep.strip()
    return (
        s.startswith(",") and s.endswith(",") and len(toks) <= 3
        and toks[0] not in ("the", "a", "an")
        and all(t not in verbish and t not in _CONNECTIVES for t in toks)
    )


def _coord_group(ms: list[dict], idx: int, text: str, direction: int) -> list[int]:
    """Indices of the coordination run containing ``ms[idx]``, walking
    ``direction`` = -1 (collect members left of idx) or +1 (right)."""
    group = [idx]
    j = idx
    while 0 <= j + direction < len(ms):
        a, b = (j + direction, j) if direction < 0 else (j, j + direction)
        sep = text[ms[a]["end"]: ms[b]["begin"]]
        if not _is_coord_sep(sep):
            break
        j += direction
        group.append(j)
    group.sort()
    return group


# ---------------------------------------------------------------------------
# term rendering
# ---------------------------------------------------------------------------


def _term_func(m: dict, text: str) -> str | None:
    """``r`` when the mention is a promoter/message/transcript/expression
    context; ``g`` when it is a genetic-alteration context."""
    if NS_FUNC.get(m["db"], "a") != "p":
        return None
    # pos/endpos forms instead of slicing: no O(len) prefix/suffix copies,
    # and the $-anchored before-cues scan only a window that already covers
    # the longest possible match ("expression of <w> <w> <w> and the " and
    # kin), instead of the whole prefix from block start. Unlike slicing,
    # pos keeps \b/lookbehind semantics at the window edge.
    b, e = m["begin"], m["end"]
    if _RNA_AFTER_RE.match(text, e) or _RNA_BEFORE_RE.search(
        text, b - 160 if b > 160 else 0, b
    ):
        return "r"
    if _GENE_BEFORE_RE.search(text, b - 64 if b > 64 else 0, b):
        return "g"
    return None


def _render(m: dict, text: str, pmod=None, wrap: str | None = None) -> str:
    t = make_term(m["db"], m["entry_name"], pmod=pmod, func=_term_func(m, text))
    if wrap == "tloc":
        return f'tloc({t},MESHCS:Cytoplasm,MESHCS:"Cell Nucleus")'
    if wrap == "tloc_out":  # nuclear efflux: the reverse translocation
        return f'tloc({t},MESHCS:"Cell Nucleus",MESHCS:Cytoplasm)'
    if wrap in ("act", "tscript", "surf"):
        return f"{wrap}({t})"
    return t


def _sig(subj_m, rel, obj_m, wrap, subj_pmod, obj_pmod, tag: str = ""):
    """Semantic signature for per-block dedup. The tloc wrapper is part of
    the signature (localization is a distinct fact); act/tscript/plain are
    surface variants of the same fact and collapse together. ``tag`` marks
    composite-subject statements as distinct from their plain-subject
    counterparts (a synergy fact is not the single-agent fact)."""
    return (
        f"{subj_m['db']}:{subj_m['id']}",
        rel,
        f"{obj_m['db']}:{obj_m['id']}",
        "tloc" if wrap == "tloc" else "",
        subj_pmod,
        obj_pmod,
        tag,
    )


# ---------------------------------------------------------------------------
# pattern matchers over the inter-mention text
# ---------------------------------------------------------------------------


def _match_active(inter: str, abbrev_tail: bool = False):
    """-> (rel, trailing_tokens) or None. Forward direction (left = agent).
    A "directly" adverb immediately before the verb upgrades the relation
    (prompt relation table: directlyIncreases/directlyDecreases).

    Two general-English compositions beyond plain verb+fillers:
      * a leading ``and``/``or`` grants a small budget of arbitrary tokens
        before the verb — in coordination ("X and pro-inflammatory
        cytokines also trigger Y") the left conjunct shares the predicate;
      * a direction-flipping nominal in the trail ("induces a reduction in
        X", "has beneficial effects on <disease>") composes with the verb.

    ``abbrev_tail``: the caller saw the object mention open with "(" right
    after this inter text ("increases cytochrome P450 2E1 (CYP2E1)"), so
    up to three unknown trailing tokens — the object's own long-form name
    — are tolerated, provided none is a causal verb, preposition, or
    direction word (a long-form NP has none of those).
    """
    toks = _tokens(inter.lower())
    if not toks:
        return None
    all_verbs = _CAUSAL_CORE
    i = 0
    directly = False
    neg_adv = pos_adv = False
    coord_budget = 0
    if toks[0] in {"and", "or"}:
        coord_budget = 3
        i = 1
    leads = _ACT_LEADS_Q
    while i < len(toks):
        t = toks[i]
        if t in leads or t.endswith("ly"):
            directly = t == "directly"
            # a signed adverb composes with a direction-neutral reg verb:
            # "negatively regulates" == decreases
            neg_adv = neg_adv or t in {"negatively", "inversely"}
            pos_adv = pos_adv or t == "positively"
            i += 1
        elif coord_budget > 0 and t not in all_verbs:
            coord_budget -= 1
            i += 1
        else:
            break
    if i >= len(toks):
        return None
    v = toks[i]
    # a participle directly after "of" is an adjectival modifier of the
    # object, not the predicate ("in the case of activated aPKC...")
    if v.endswith("ed") and i > 0 and toks[i - 1] == "of":
        return None
    if v in _ACT_UP:
        rel = "directlyIncreases" if directly else "increases"
    elif v in _ACT_DOWN:
        rel = "directlyDecreases" if directly else "decreases"
    elif v in _ACT_REG:
        rel = ("decreases" if neg_adv
               else "increases" if pos_adv else "regulates")
    else:
        return None
    trail = toks[i + 1:]
    flip = False
    nominal_seen = False
    unknown_budget = 3 if abbrev_tail else 0
    k = 0
    while k < len(trail):
        t = trail[k]
        if (t in _TRAIL_INHIB and k + 1 < len(trail)
                and trail[k + 1] == "of"):
            # double-negative collapse: "<verb> the inhibitor of <Y>" —
            # the verb acts on Y's INHIBITOR, so the sign on Y flips
            # ("inactivates the inhibitor of apoptosis" -> increases)
            flip = not flip
            nominal_seen = True
            k += 2
            continue
        if t in _TRAIL_FLIP or t in _TRAIL_FLIP_PART:
            # down-direction participials compose like their nominals:
            # "causes decreased X" flips the verb's sign
            flip = True
            nominal_seen = True
        elif t in _NOMINAL_UP or t in _TRAIL_UP_PART:
            # "causes increased X" keeps the verb's sign
            nominal_seen = True
        elif t == "in":
            # "in" reads as a preposition introducing the object only after
            # a quantity nominal ("a reduction in X"); bare "increased in X"
            # is a location/condition context, not a relation
            if not nominal_seen:
                return None
        elif t in _ACT_TRAIL or _is_num(t):
            pass
        elif unknown_budget > 0 and t not in _ALL_CAUSAL_VERBS and t not in {
            "of", "with", "from", "by", "to", "for", "on", "at", "not", "no",
        }:
            unknown_budget -= 1
        else:
            return None
        k += 1
    if flip:
        rel = _FLIP.get(rel, rel)
    return rel, trail


def _match_passive(inter: str):
    """-> (rel, marker, pmod) or None. Reversed (right = agent, left =
    target). pmod is set for the phospho-IP idiom, a compact leading site
    token ("Ser473 was induced by X"), or a leading "phosphorylation".

    The ``absence_of`` marker ("was decreased in the absence of X") FLIPS
    the relation: the clause describes what happens without the agent."""
    toks = _tokens(inter.lower())
    if not toks:
        return None
    absence = len(toks) >= 4 and tuple(toks[-4:]) == _ABSENCE_TAIL
    if toks[0] in {"on", "in"} or (toks[0] == "at" and not absence):
        return None  # site/location context guard
    # leading coordination remnant with a non-mention conjunct ("<JAK2>
    # and Tky-2 are activated ..."): skip "and" plus up to two unknown
    # non-verb tokens — the left coordination group still collects the
    # mention conjuncts
    if toks[0] == "and":
        k = 1
        while (k < min(3, len(toks) - 1)
               and toks[k] not in _PASSIVE_LEAD
               and toks[k] not in _ALL_CAUSAL_VERBS
               and toks[k] not in _CONNECTIVES
               and toks[k] not in {"is", "are", "was", "were"}):
            k += 1
        if k < len(toks) and toks[k] in {"is", "are", "was", "were"}:
            toks = toks[k:]
    i = 0
    pmod = None
    while i < len(toks):
        t = toks[i]
        site = _SITE_TOKEN_RE.match(t)
        if site:
            pmod = ("Ph", site.group(1).capitalize(), int(site.group(2)))
        elif t == "phosphorylation":
            if pmod is None:
                pmod = ("Ph", None, None)
        elif t in _PASSIVE_LEAD or (t == "at" and absence):
            pass
        else:
            break
        i += 1
    if toks[i: i + 3] == ["known", "to", "be"]:
        i += 3
    elif (i + 1 < len(toks)
          and toks[i] in {"may", "can", "might", "could", "must"}
          and toks[i + 1] == "be"):
        # modal passive: "may be enhanced by ..."
        i += 2
    elif i < len(toks) and toks[i] in {
        "is", "are", "was", "were", "remains", "remained", "becomes", "became",
    }:
        i += 1
    else:
        return None
    while i < len(toks) and (toks[i].endswith("ly") or toks[i] == "also"):
        i += 1
    if i >= len(toks):
        return None
    v = toks[i]
    if v in _PASSIVE_UP:
        rel = "increases"
    elif v in _PASSIVE_DOWN:
        rel = "decreases"
    elif v in _PASSIVE_REG:
        rel = "regulates"
    elif v == "phosphorylated":
        rel, pmod = "directlyIncreases", pmod or ("Ph", None, None)
    elif v == "immunoprecipitated":
        # "T is immunoprecipitated with the anti-phosphotyrosine antibody
        # ... following X" == X increases p(T, pmod(Ph, Tyr))
        if "anti-phosphotyrosine" not in toks[i:]:
            return None
        rel, pmod = "increases", ("Ph", "Tyr", None)
    else:
        return None
    rest = toks[i + 1:]
    if absence:
        return _FLIP.get(rel, rel), "absence_of", pmod
    # strip trailing "<n> h of"-style qualifiers after the marker
    while rest and (rest[-1] in {"of", "h", "min", "treatment", "pretreatment"}
                    or _is_num(rest[-1])):
        rest.pop()
    # collapse the "in response to" trigram into one marker token
    for j in range(len(rest) - 2):
        if rest[j: j + 3] == ["in", "response", "to"]:
            rest = rest[:j] + ["in_response_to"] + rest[j + 3:]
            break
    # the marker may be followed by an appositive noun phrase introducing
    # the agent list ("induced by different growth factors such as A and B")
    marker_idx = None
    for j in range(len(rest) - 1, -1, -1):
        if rest[j] in _AGENT_MARKERS:
            marker_idx = j
            break
    if marker_idx is None:
        return None
    for t in rest[:marker_idx]:
        # coordinated passive predicates ("are activated and are
        # tyrosine-phosphorylated in response to ...") are compatible
        # mid-fillers — the first participle already fixed the sign
        if (t not in _PASSIVE_MID and not _is_num(t)
                and t not in _PASSIVE_UP and t not in _PASSIVE_DOWN
                and not t.endswith("phosphorylated")
                and t not in {"is", "are", "was", "were"}):
            return None
    unknown_budget = 2
    for t in rest[marker_idx + 1:]:
        if t in _PASSIVE_APPOS or _is_num(t):
            continue
        # a non-mention member of the agent list ("... in response to
        # IL-6, <CNTF> ...") — tolerate a couple, nothing verbish
        if (unknown_budget > 0 and t not in _ALL_CAUSAL_VERBS
                and t not in _CONNECTIVES):
            unknown_budget -= 1
            continue
        return None
    return rel, rest[marker_idx], pmod


def _match_agentless_passive(tail: str):
    """Trailing text after a mention with no following agent: ", Y is
    slightly down-regulated." -> rel, for carryover-agent attachment."""
    m = _AGENTLESS_PASSIVE_RE.match(
        tail.strip() if len(tail) < 80 else tail[:80]
    )
    if not m:
        return None
    v = m.group(1)
    if v in _PASSIVE_UP:
        return "increases"
    if v in _PASSIVE_DOWN:
        return "decreases"
    return None


def _retry_seg(fn, inter: str, seg: str | None):
    """Apply a matcher to the full inter text, then (on a None miss) to the
    after-last-comma segment."""
    r = fn(inter)
    if r is None and seg and seg.strip():
        r = fn(seg)
    return r


def _match_reduced_passive(inter: str):
    """Reduced (copula-less) participial passive between the two mentions:
    "apoptosis triggered by hydrogen peroxide" -> right rel left. General
    English: a bare past participle + ``by`` postmodifies the left noun."""
    toks = _tokens(inter.lower())
    if len(toks) < 2 or toks[-1] != "by":
        return None
    body = toks[:-1]
    v = body[-1]
    if any(not (t.endswith("ly") or t in {"when", "if", "as"}) for t in body[:-1]):
        return None
    if v in _PASSIVE_UP:
        return "increases"
    if v in _PASSIVE_DOWN:
        return "decreases"
    if v in _PASSIVE_REG:
        return "regulates"
    return None


# compound premodifier: "<X>-induced <Y>" / "<X>-mediated <Y>" -> X rel Y
# (forward: the left mention is the agent inside the compound)
_COMPOUND_REL = {
    **{v: "increases" for v in _PASSIVE_UP | {"mediated"}},
    **{v: "decreases" for v in _PASSIVE_DOWN},
}


# instrumental by-gerund: "S <verb> O1 by inducing (the expression of) O2"
# — the by-phrase modifies the matrix clause, so its agent is the MATRIX
# subject (the mention before the pair), not O1
_GERUND_UP = {
    "inducing", "increasing", "enhancing", "promoting", "stimulating",
    "activating", "upregulating", "up-regulating", "elevating", "triggering",
}
_GERUND_DOWN = {
    "inhibiting", "suppressing", "decreasing", "reducing", "downregulating",
    "down-regulating", "repressing", "blocking", "attenuating", "preventing",
}
_BY_GERUND_RE = re.compile(
    r"^by\s+([a-z\-]+)(?:\s+the)?"
    r"(?:\s+(?:expression|levels?|transcription|production|activity)"
    r"\s+of(?:\s+the)?)?\s*$"
)

# perturbation-prevalence idiom vocabulary: "the <loss-nominal> of X has
# been <observed-verb> in <fraction> of <disease>" — tumor-suppressor /
# oncogene epidemiology prose. The nominal's direction decides the
# correlation sign: loss-of-X prevalent in the disease -> X
# negativeCorrelation disease; overexpression-of-X -> positiveCorrelation.
_LOSS_NOMINALS = {
    "inactivation", "loss", "ablation", "knockout", "deletion", "depletion",
    "silencing", "mutation", "mutations",
} | _NOMINAL_DOWN
_GAIN_NOMINALS = {
    "overexpression", "amplification", "accumulation",
} | _NOMINAL_UP
_OBSERVED_VERBS = {
    "demonstrated", "observed", "found", "detected", "reported",
    "identified", "described", "seen",
}
_VERBISH_OBS = _VERBISH_PASSIVE | _OBSERVED_VERBS
_PREVALENCE_PREFIX_RE = re.compile(r"\b([a-z\-]+)\s+of\s+(?:the\s+)?$", re.I)
_PREV_QUANT = {
    "of", "all", "most", "many", "the", "a", "an", "approximately",
    "about", "up", "to", "over", "nearly",
}


def _match_prevalence(inter: str) -> bool:
    """True when the inter text is "(has been) <observed-verb> in
    <quantifier/modifier tokens>" — the passive-epidemiology predicate.
    Modifier tokens after "in" may be numbers, percents, quantifiers, or
    plain adjectives, never verbs (a verb means a different clause)."""
    toks = _tokens(inter.lower())
    i = 0
    while (
        i < len(toks)
        and toks[i] not in _OBSERVED_VERBS
        and (toks[i] in _ACT_LEAD or toks[i].endswith("ly"))
    ):
        i += 1
    if i >= len(toks) or toks[i] not in _OBSERVED_VERBS:
        return False
    rest = toks[i + 1:]
    if not rest or rest[0] != "in":
        return False
    all_verbs = _VERBISH_OBS
    for t in rest[1:]:
        if _is_num(t) or (t.endswith("%") and t[:-1].rstrip(".")):
            continue
        if t in _PREV_QUANT:
            continue
        if t in all_verbs or not t.replace("-", "").isalpha():
            return False
    return True


_SYM_RELS = ("association", "positiveCorrelation", "negativeCorrelation")
_TERM_KEY_RE = re.compile(r"\b([A-Za-z]+):(\"[^\"]+\"|[\w.\-]+)")

# hedged-association verbs and the preposition each one governs
_ASSOC_VERBS = {
    "implicated": "in",
    "involved": "in",
    "associated": "with",
    "correlated": "with",
    "linked": "to",
}


def _match_assoc(inter: str):
    """-> "association" for the hedged-association idioms of review prose:
    "X has (also) been implicated/involved in Y", "X is associated with
    (genetic alterations of) Y", "X correlates with Y". The curator
    records a non-directional association — these idioms assert a link
    without a direction, unlike the _ACT_* causal verbs. Lead fillers are
    the same modal/auxiliary set as the active matcher. After the
    preposition, articles are free and ONE short nominal-of chunk is
    allowed ("with genetic alterations of Y", "in the pathogenesis of Y")
    — the chunk must END in "of" so the object mention is still the
    idiom's complement, not a different clause's."""
    toks = _tokens(inter.lower())
    if not toks:
        return None
    leads = _ACT_LEAD | {"is", "are", "was", "were", "be", "being"}
    i = 0
    sign = None
    while i < len(toks) and (toks[i] in leads or toks[i].endswith("ly")):
        if toks[i] in {"negatively", "inversely"}:
            sign = "negativeCorrelation"
        elif toks[i] in {"positively"}:
            sign = "positiveCorrelation"
        i += 1
    if i >= len(toks) or toks[i] not in _ASSOC_VERBS:
        return None
    prep = _ASSOC_VERBS[toks[i]]
    rest = toks[i + 1:]
    if not rest or rest[0] != prep:
        return None
    tail = [t for t in rest[1:] if t not in {"the", "a", "an", "both"}]
    if tail:
        if len(tail) > 3 or tail[-1] != "of":
            return None
        if not all(t.replace("-", "").isalpha() for t in tail):
            return None
    # a signed adverb turns the hedge into a signed correlation
    return sign or "association"


def _match_compound(inter: str):
    m = _COMPOUND_SUFFIX_RE.fullmatch(inter.strip().lower())
    if m is None:
        return None
    return _COMPOUND_REL.get(m.group(1))


# copula/light-verb predicate over a pro-/anti- adjective object:
# "X ... exerts pro-apoptotic effects", "X can be anti-angiogenic"
_ADJ_PRED_FILLER = {
    "which", "that", "can", "could", "may", "might", "be", "is", "are",
    "was", "were", "also", "a", "an", "the", "potent", "highly", "clearly",
    "exert", "exerts", "exerted", "has", "have", "had", "show", "shows",
    "showed", "display", "displays", "displayed", "factor", "inducer",
    "agent",
}
_ADJ_PRED_HEAD = {
    "be", "is", "are", "was", "were", "exert", "exerts", "exerted", "has",
    "have", "had", "show", "shows", "showed", "display", "displays",
    "displayed",
}


def _match_adj_predicate(inter: str, need_factor: bool = False):
    """True when the inter text is a copula/light-verb predicate suitable
    for an adjectival process object. ``need_factor``: the bare-adjective
    reading ("X is a potent angiogenic factor" -> X increases angiogenesis)
    additionally requires an agent noun (factor/inducer/agent) — a bare
    copula ("the cell is apoptotic") describes a state, not an influence."""
    toks = _tokens(inter.lower())
    ok = bool(toks) and all(t in _ADJ_PRED_FILLER for t in toks) and any(
        t in _ADJ_PRED_HEAD for t in toks
    )
    if ok and need_factor:
        ok = any(t in {"factor", "inducer", "agent"} for t in toks)
    return ok


_SUCH_AS_NOMINAL_RE = re.compile(
    r"(?:^|\s)such\s+as\s+(?:the\s+)?([a-z\-]+)\s+of$"
)


def _match_such_as_nominal(inter: str):
    """Appositive exemplification: "<X> ..., such as the activation of <Y>"
    — Y's activation is an instance of what X engages -> X rel Y by the
    nominal's direction. Prepositional filler before "such as" is allowed
    ("<X> as part of the adaptive response ..., such as the activation of
    <Y>") as long as it carries no predicate of its own and no negation."""
    toks = _tokens(inter.lower())
    joined = " ".join(toks)
    m = _SUCH_AS_NOMINAL_RE.search(joined)
    if m is None:
        return None
    head = joined[: m.start()].split()
    if any(t in _ALL_CAUSAL_VERBS for t in head) or _NEG_RE.search(joined):
        return None
    nom = m.group(1)
    if nom in _NOMINAL_UP:
        return "increases"
    if nom in _NOMINAL_DOWN:
        return "decreases"
    return None


# "X targets Y for (ubiquitin-mediated) degradation/proteolysis" — the
# level reading: X decreases Y. The verb alone is directionless; the
# for-degradation tail after the object supplies the direction.
_TARGET_VERBS = {"targets", "target", "targeted", "marks", "mark", "marked"}
_FOR_DEG_RE = re.compile(
    r"^\s+for\s+(?:\S+\s+){0,3}?(?:degradation|proteolysis|destruction)\b"
)


def _match_target_for_deg(inter: str, after_right: str):
    if not _FOR_DEG_RE.match(after_right):
        return None
    toks = _tokens(inter.lower())
    if not toks:
        return None
    i = 0
    while i < len(toks) and (toks[i] in _ACT_LEAD or toks[i].endswith("ly")):
        i += 1
    if i >= len(toks) or toks[i] not in _TARGET_VERBS:
        return None
    for t in toks[i + 1:]:
        if t not in _ACT_TRAIL and not _is_num(t) and not t.endswith(
            ("subunit", "subunits", "isoform", "isoforms")
        ):
            return None
    return "decreases"


_PREDICTOR_FILLER = {"one", "of", "the", "a", "an", "major", "strong",
                     "important", "independent", "best", "known"}


def _match_predictor(inter: str):
    """"X, one of the major predictors for Y" -> X positiveCorrelation Y.
    ("risk factor for" reads the same way.)"""
    toks = _tokens(inter.lower())
    if len(toks) < 2 or toks[-1] not in {"for", "of"}:
        return None
    if toks[-2] in {"predictor", "predictors"}:
        body = toks[:-2]
    elif len(toks) >= 3 and toks[-3:-1] == ["risk", "factor"]:
        body = toks[:-3]
    else:
        return None
    if all(t in _PREDICTOR_FILLER for t in body):
        return "positiveCorrelation"
    return None


def _match_required_for(inter: str):
    """"A is/are required for ... D" -> A increases D."""
    toks = _tokens(inter.lower())
    if len(toks) < 3 or toks[0] not in {"is", "are", "was", "were"}:
        return None
    if toks[1] != "required" or toks[2] != "for":
        return None
    trail = toks[3:]
    verbish = _CAUSAL_CORE
    if len(trail) > 6 or any(t in verbish for t in trail):
        return None
    return "increases"


def _match_synergize(inter: str):
    toks = _tokens(inter.lower())
    if not toks or toks[0] not in {"synergize", "synergizes", "synergized"}:
        return None
    trail = toks[1:]
    allowed = {"to", "control", "drive", "induce", "activate", "enhance",
               "transcription", "expression", "from", "the", "of"}
    if len(trail) > 5 or any(t not in allowed for t in trail):
        return None
    return "increases"


_STATE_UP = {"up-regulated", "upregulated", "elevated", "increased"}
_STATE_DOWN = {"down-regulated", "downregulated", "reduced", "decreased",
               "suppressed", "diminished"}
# connector between chained condition phrases: "... in <B> and under
# conditions of <C>"
_COND_CONNECT_RE = re.compile(
    r",?\s*(?:and|or)?\s*(?:in|during|upon|under\s+conditions\s+of)\s*"
    r"(?:the\s+)?",
    re.I,
)


def _match_state_in(inter: str):
    """Directional-state correlation: "<A> is (consistently) up regulated
    in <B>" / "... under conditions of <B>" -> A positiveCorrelation B
    (negative for a down state). Only explicitly directional participles
    qualify — bare "expressed"/"detected in <tissue>" is a location, not
    a correlation. Every other token must be inert filler."""
    toks = _tokens(inter.lower())
    # a leading measurement-apparatus NP stands for the subject's own
    # transcript ("Of three Rin1 probe sets ..., one probe set (1777_at)
    # was significantly up-regulated in adenocarcinoma")
    while toks and toks[0] in {
        "one", "two", "three", "each", "both", "the", "this",
        "probe", "probes", "set", "sets", "transcript", "transcripts",
        "mrna",
    }:
        toks = toks[1:]
    if len(toks) < 2 or toks[0] not in {
        "is", "are", "was", "were", "remains", "remained",
    }:
        return None
    if not (toks[-1] == "in"
            or toks[-3:] == ["under", "conditions", "of"]):
        return None
    # "was reduced BY 39% upon glucose stimulation" is an experimental
    # measurement with its own agent/quantity structure, not a state
    # correlation — the "by" marker disqualifies
    if "by" in toks or _NEG_RE.search(inter):
        return None
    sign = None
    for j, t in enumerate(toks):
        if t in _STATE_UP:
            sign = "positiveCorrelation"
            break
        if t in _STATE_DOWN:
            sign = "negativeCorrelation"
            break
        if (t in {"up", "down"} and j + 1 < len(toks)
                and toks[j + 1] in _PASSIVE_REG):
            sign = ("positiveCorrelation" if t == "up"
                    else "negativeCorrelation")
            break
    if sign is None:
        return None
    allowed_verbs = _STATE_UP | _STATE_DOWN | _PASSIVE_REG
    for t in toks:
        if t in _ALL_CAUSAL_VERBS and t not in allowed_verbs:
            return None
    return sign


def _match_trailing_participle(inter: str):
    """"<A> ..., (thereby) causing (cytolytic) <B>" -> rel by the
    participle's direction. The whole inter text must be the participle
    phrase (optionally comma/adverb-led), so matrix clauses with their own
    verb and the instrumental "by <gerund>" never reach here."""
    toks = _tokens(inter.lower())
    i = 0
    while i < len(toks) and (toks[i] in {"thereby", "thus", "consequently"}
                             or toks[i].endswith("ly")):
        i += 1
    if i >= len(toks):
        return None
    v = toks[i]
    rel = ("increases" if v in _PARTICIPLE_UP
           else "decreases" if v in _PARTICIPLE_DOWN else None)
    if rel is None:
        return None
    trail = toks[i + 1:]
    if len(trail) > 2 or any(
        not t.replace("-", "").isalpha() or t in _ALL_CAUSAL_VERBS
        for t in trail
    ):
        return None
    return rel


def _match_pretreat_nominal(inter: str):
    """"... after X pretreatment, a 6-fold induction of (the) Z" with the
    agent BEFORE the nominal -> X rel Z."""
    toks = _tokens(inter.lower())
    if not toks or toks[0] not in {"treatment", "pretreatment"}:
        return None
    i = 1
    while i < len(toks) and (toks[i] in {"a", "an", "the"} or _is_num(toks[i])):
        i += 1
    if i >= len(toks):
        return None
    v = toks[i]
    if v in _NOMINAL_UP:
        rel = "increases"
    elif v in _NOMINAL_DOWN:
        rel = "decreases"
    else:
        return None
    trail = toks[i + 1:]
    if not trail or trail[0] != "of":
        return None
    if any(t not in {"of", "the", "a", "an"} for t in trail):
        return None
    return rel


# ---------------------------------------------------------------------------
# block state for cross-clause carryover
# ---------------------------------------------------------------------------


class _BlockState:
    __slots__ = ("target", "target_sig", "rel", "agents", "agent_sigs",
                 "last_subject", "last_subject_m", "cnc", "protein_history",
                 "last_idx", "last_object_m", "last_rel", "last_scn_dir",
                 "substrate_enzyme", "last_subject_list")

    def __init__(self):
        self.target = None          # rendered target term of the last passive
        self.target_sig = None      # its mention dict
        self.rel = None
        self.agents = []            # rendered agent terms, in occurrence order
        self.agent_sigs = []        # their mention dicts
        self.last_subject = None    # rendered subject of the last statement
        self.last_subject_m = None
        self.cnc = {}               # obj "db:id" -> (subj term, subj mention, stmt idx)
        self.protein_history = []   # protein-ns mentions of PRIOR sentences
        self.last_idx = None        # index in `out` of the last statement
        self.last_object_m = None   # its object mention
        self.last_rel = None
        self.last_scn_dir = 0       # narrated direction of last object
        self.substrate_enzyme = None  # "<X> substrates" kinase mention
        self.last_subject_list = []  # FULL subject list of the last
        # active-branch statement — what a conjoined VP ("... and
        # increased phosphorylation of <Y>") re-binds to


# ---------------------------------------------------------------------------
# the block engine
# ---------------------------------------------------------------------------


def extract_from_block(text: str, mentions: list) -> list[tuple[str, str]]:
    """Extract BEL statements from a multi-sentence text block.

    ``mentions``: dict-like rows with begin/end/db/id/entry_name over the
    FULL block text. Returns [(bel_statement, evidence=block)] deduped by
    semantic signature. Superset of ``extract_from_sentence`` (which is run
    per contained sentence first).
    """
    if mentions is None or len(mentions) == 0:
        return []
    ms_all = sorted(
        (dict(m) for m in mentions),
        key=lambda m: (m["begin"], -(m["end"] - m["begin"])),
    )
    ms_all = _merge_abbrev(ms_all, text)

    # sentence spans (abbreviation-aware: "(Fig. 5A)," is not a boundary)
    spans = _sentence_spans(text)

    state = _BlockState()
    eg_list: list[dict] = []  # members of the last "(e.g. ...)" list
    # genes KO-marked ANYWHERE in the block ("Pgf-/- mice"): the
    # loss-of-protein-name bridge below may fire in a different sentence
    block_ko = [g for g in ms_all
                if _KO_SUFFIX_RE.match(text, g["end"])]
    out: list[tuple[str, str] | None] = []
    seen_sigs: dict = {}   # sig  -> index of the statement in `out`
    seen_stmts: dict = {}  # stmt -> index of the statement in `out`
    sym_pairs: set = set()  # (frozenset{NS:NAME, NS:NAME}, rel) coverage

    def emit(stmt: str, sig=None) -> int | None:
        # A dedup-suppressed re-emission returns the ORIGINAL statement's
        # index, not None: the narration still happened in the text, so
        # emit_pair must re-point the clause-chain state (last_object_m /
        # last_rel) at this statement — otherwise a following consequence
        # chain composes the new clause's direction with a STALE object
        # from an older statement and can emit the wrong sign.
        # A prev index whose out[] slot was later nulled (subsumption,
        # e.g. the synergy composite deleting its cnc precursor) is a
        # DEAD entry: returning it would re-point the clause-chain state
        # (last_idx / last_object_m) at a statement that no longer
        # exists, and the narration that re-asserts the plain relation
        # deserves a fresh statement anyway.
        prev = seen_stmts.get(stmt)
        if prev is not None and out[prev] is None:
            prev = None
        if prev is None and sig is not None:
            prev = seen_sigs.get(sig)
            if prev is not None and out[prev] is None:
                prev = None
        if prev is not None:
            return prev
        idx = len(out)
        seen_stmts[stmt] = idx
        if sig is not None:
            seen_sigs[sig] = idx
        out.append((stmt, text))
        return idx

    def emit_pair(subj_m, rel, obj_m, wrap=None, subj_pmod=None, obj_pmod=None,
                  subj_override: str | None = None):
        if subj_override is None and subj_pmod is None:
            # subject-context cues before the subject mention (same cues as
            # the base engine: "Phosphorylated X ...", "the ... activity of X")
            b = subj_m["begin"]
            if text.endswith("Phosphorylated ", 0, b):
                subj_pmod = ("Ph", None, None)
            elif _ACTIVITY_OF_RE.search(text, b - 64 if b > 64 else 0, b):
                subj_override = f"act({_render(subj_m, text)})"
        if subj_pmod is not None and subj_override is None:
            subj_override = make_term(
                subj_m["db"], subj_m["entry_name"], pmod=subj_pmod,
                func=_term_func(subj_m, text),
            )
        subj = subj_override or _render(subj_m, text)
        obj = _render(obj_m, text, pmod=obj_pmod, wrap=wrap)
        sig = _sig(subj_m, rel, obj_m, wrap, subj_pmod, obj_pmod,
                   tag="composite" if subj.startswith("composite(") else "")
        idx = emit(f"{subj} {rel} {obj}", sig)
        if idx is not None:
            state.last_subject = subj
            state.last_subject_m = subj_m
            state.last_idx = idx
            state.last_object_m = obj_m
            state.last_rel = rel
            state.last_scn_dir = 0  # emit paths that know it set it after
        return idx

    for s_begin, s_end in spans:
        sent = text[s_begin:s_end]
        # one lowered copy per sentence: the rare rule families below are
        # gated on a literal substring probe (~100ns) instead of paying
        # their full regex scan on every sentence
        sent_lo = sent.lower()
        ms = [m for m in ms_all if m["begin"] >= s_begin and m["end"] <= s_end]

        # ---- base (round-1) exact-phrase engine on the sentence slice ----
        local = [
            {**m, "begin": m["begin"] - s_begin, "end": m["end"] - s_begin}
            for m in ms
        ]
        for stmt, _ev in extract_from_sentence(sent, local):
            emit(stmt)
            # record symmetric-relation pairs the base engine already
            # covers (order-insensitively), so the block-level association
            # rule never re-emits the same fact flipped/undecorated
            for srel in _SYM_RELS:
                if f" {srel} " in stmt:
                    names = frozenset(
                        f"{db}:{nm.strip(chr(34))}"
                        for db, nm in _TERM_KEY_RE.findall(stmt)
                    )
                    sym_pairs.add((names, srel))

        # ---- e.g.-list anaphora: remember parenthesized exemplification
        # members; "Such drugs therefore inhibit ... namely <objs>"
        # predicates over them ---------------------------------------------
        for pspan in (_EG_PAREN_RE.finditer(text, s_begin, s_end)
                      if "(e.g" in sent_lo else ()):
            inside = [m for m in ms
                      if pspan.start() <= m["begin"]
                      and m["end"] <= pspan.end()]
            if inside:
                eg_list = inside
        sv = _SUCH_VERB_RE.match(sent_lo) if eg_list else None
        if sv is not None:
            v = sv.group(1)
            rel4 = ("increases" if v in _ACT_UP
                    else "decreases" if v in _ACT_DOWN else None)
            if rel4 is not None:
                vend = s_begin + sv.end(1)
                nmly = _NAMELY_RE.search(text, vend, s_end)
                opos = nmly.end() if nmly else vend
                for obj_m in ms:
                    if obj_m["begin"] < opos:
                        continue
                    for g in eg_list:
                        emit(
                            f"{_render(g, text)} {rel4} "
                            f"{_render(obj_m, text)}",
                            _sig(g, rel4, obj_m, None, None, None),
                        )

        # ---- family-member anaphora: "<agent> <verb> ... <FAM>
        # phosphorylation" where FAM is NOT itself a mention but the
        # block's own mentions extend it with a Greek/uppercase-letter
        # suffix ("GSK-3" after the block printed "GSK-3α"): the family
        # NP denotes the member(s) the block already named — prose
        # routinely drops the paralog suffix on subsequent reference —
        # so the statement distributes over them with pmod(Ph). The
        # agent is the sentence's FIRST mention (subject position, never
        # a member itself); the predicate between agent and family NP
        # must be a real active verb phrase (comma-segment retry strips
        # relative clauses: "Forskolin, which activates ... , triggered
        # a similar elevation in GSK-3 phosphorylation"). Literal-gated.
        if "phosphorylation" in sent_lo and ms:
            for fam_m in _FAM_PHOS_RE.finditer(text, s_begin, s_end):
                f0 = fam_m.start(1)
                f1 = fam_m.end(1)
                if any(m["begin"] < f1 and m["end"] > f0 for m in ms_all):
                    continue  # the head is (part of) a real mention
                fam = fam_m.group(1)
                # true ANAPHORA only: members must have been printed
                # BEFORE the family reference — a later sentence naming
                # the paralog may be contrasting it ("In contrast,
                # GSK-3β was unaffected"), not co-referring
                members: dict[tuple, dict] = {}
                for m in ms_all:
                    if m["begin"] >= f0:
                        continue
                    alias_txt = text[m["begin"]: m["end"]]
                    if (
                        len(alias_txt) > len(fam)
                        and alias_txt.startswith(fam)
                        and _FAM_EXT_RE.fullmatch(alias_txt[len(fam):])
                    ):
                        members.setdefault((m["db"], m["id"]), m)
                if not members:
                    continue
                first = next((m for m in ms if m["end"] <= f0), None)
                if first is None or (first["db"], first["id"]) in members:
                    continue
                # a leading period can only be the merged noise-split
                # (". also led to ..." — the splitter keeps lowercase
                # continuations); strip it so the verb matcher sees words
                inter = text[first["end"]: f0].lower().lstrip(" .;:")
                if _NEG_RE.search(inter):
                    continue
                seg = inter.rsplit(",", 1)[1] if "," in inter else None
                act = _retry_seg(_match_active, inter, seg)
                if act is None:
                    continue
                rel5 = act[0]
                # "Inhibition/ablation of <first> ... led to ...": the
                # agent is the LOSS of first, so the observed sign flips
                # — the ablation rule the active pair branch applies,
                # widened to the down-nominal prefixes ("inhibition of")
                pref = text[
                    first["begin"] - 72 if first["begin"] > 72 else 0:
                    first["begin"]
                ]
                npref = _NOMINAL_PREFIX_RE.search(pref.lower())
                if _ABLATION_PREFIX_RE.search(pref) or (
                    npref is not None and npref.group(1) in _NOMINAL_DOWN
                ):
                    rel5 = _FLIP.get(rel5, rel5)
                pm5 = ("Ph", None, None)
                for mem in members.values():
                    emit(
                        f"{_render(first, text)} {rel5} "
                        f"{_render(mem, text, pmod=pm5)}",
                        _sig(first, rel5, mem, None, None, pm5),
                    )

        # ---- loss-of-protein-name bridge over a KO-marked block ----------
        # "Pgf-/- mice ... Thus, loss of PlGF impaired ... angiogenesis":
        # the protein symbol is not in the dictionary, but it is the
        # KO-marked gene's subsequence twin, so the ablation reading is
        # licensed: G increases <the impaired process>
        if block_ko and "loss of" in sent_lo:
            for lm in _LOSS_OF_TOKEN_RE.finditer(text, s_begin, s_end):
                tok = lm.group(1)
                g = next(
                    (g for g in block_ko
                     if _protein_gene_twin(
                         tok, text[g["begin"]: g["end"]])
                     and not any(
                         m["begin"] <= lm.start(1) < m["end"] for m in ms
                     )),
                    None,
                )
                if g is None:
                    continue
                # object: first mention after the verb, skipping compound
                # premodifiers ("impaired VEGF -dependent ... angiogenesis")
                j = next((k for k, m in enumerate(ms)
                          if m["begin"] >= lm.end()), None)
                while (j is not None and j + 1 < len(ms)
                       and _PREMOD_HEAD_RE.match(
                           text, ms[j]["end"], ms[j + 1]["begin"])):
                    j += 1
                if j is not None:
                    emit(
                        f"{_render(g, text)} increases "
                        f"{_render(ms[j], text)}",
                        _sig(g, "increases", ms[j], None, None, None,
                             tag="ko"),
                    )

        # ---- genetic-perturbation (knockout) inference -------------------
        ko_genes = [g for g in ms
                    if _KO_SUFFIX_RE.match(text, g["end"], s_end)]
        if ko_genes:
            ko_lost_seen = False
            for ev in _KO_PHOS_RE.finditer(text, s_begin, s_end):
                site = (
                    (_RESIDUE_3[ev.group(1).lower()], int(ev.group(2)))
                    if ev.group(1) else None
                )
                tail_pos = ev.end()
                target = None
                mof = _OF_SEP_RE.match(text[ev.end(): s_end])
                if mof:
                    pos = ev.end() + mof.end()
                    target = next((m for m in ms if m["begin"] == pos), None)
                    if target is not None:
                        tail_pos = target["end"]
                        if site is None:
                            at = _KO_AT_SITE_RE.match(text[tail_pos: s_end])
                            if at:
                                site = (_RESIDUE_3[at.group(1).lower()],
                                        int(at.group(2)))
                                tail_pos += at.end()
                if target is None:
                    # mention directly before "phosphorylation"
                    target = next(
                        (m for m in ms
                         if m["end"] <= ev.start()
                         and not text[m["end"]: ev.start()].strip()),
                        None,
                    )
                if target is None and site is not None:
                    # bare-site event ("Ser473 phosphorylation was
                    # abolished"): the protein is anaphoric — nearest
                    # non-perturbed mention in the sentence, else the
                    # protein history of prior sentences
                    cands = [m for m in ms if m not in ko_genes]
                    if cands:
                        target = min(
                            cands, key=lambda m: abs(m["begin"] - ev.start())
                        )
                    elif state.protein_history:
                        target = state.protein_history[-1]
                if target is None or any(
                    (target["db"], target["id"]) == (g["db"], g["id"])
                    for g in ko_genes
                ):
                    continue
                eff = text[tail_pos: s_end]
                rel = None
                if _KO_LOST_RE.match(eff):
                    rel, ko_lost_seen = "increases", True
                elif ko_lost_seen and _KO_UNCHANGED_RE.match(eff):
                    rel = "causesNoChange"
                if rel is None:
                    continue
                pmod = ("Ph", site[0], site[1]) if site else ("Ph", None, None)
                for g in ko_genes:
                    if (g["db"] != target["db"] and g["db"] in _GENE_NS
                            and target["db"] in _GENE_NS):
                        continue
                    emit(
                        f"{_render(g, text)} {rel} "
                        f"{_render(target, text, pmod=pmod)}",
                        _sig(g, rel, target, None, None, pmod, tag="ko"),
                    )
            mup = _KO_RISE_RE.search(text, s_begin, s_end)
            if mup is not None:
                direction = (
                    "decreases" if mup.group(1).lower() in _NOMINAL_UP
                    else "increases"
                )
                target = next(
                    (m for m in ms
                     if m["begin"] >= mup.end() and m not in ko_genes),
                    None,
                )
                if target is not None:
                    for g in ko_genes:
                        if (g["db"] != target["db"] and g["db"] in _GENE_NS
                                and target["db"] in _GENE_NS):
                            continue
                        emit(
                            f"{_render(g, text)} {direction} "
                            f"{_render(target, text)}",
                            _sig(g, direction, target, None, None, None,
                                 tag="ko"),
                        )
            # adjectival rise: "In a <G>-null tumour, <Y> is constitutively
            # active" — Y's activity is UP without G, so G decreases act(Y)
            ca = (_CONST_ACTIVE_RE.search(text, s_begin, s_end)
                  if "constitutively" in sent_lo else None)
            if ca is not None:
                target = next(
                    (m for m in reversed(ms)
                     if m["end"] <= ca.start() and m not in ko_genes),
                    None,
                )
                if target is not None:
                    for g in ko_genes:
                        if (g["db"] != target["db"] and g["db"] in _GENE_NS
                                and target["db"] in _GENE_NS):
                            continue
                        emit(
                            f"{_render(g, text)} decreases "
                            f"act({_render(target, text)})",
                            _sig(g, "decreases", target, "act", None, None,
                                 tag="ko"),
                        )
            # knockout-rescue: "rescued the impaired <Y> ... in <G>-/-
            # mice" — the deficit existed because G was removed, so G
            # positively regulates Y
            for rim in (_RESCUED_IMPAIRED_RE.finditer(text, s_begin, s_end)
                        if "rescued" in sent_lo or "restored" in sent_lo
                        else ()):
                tgt = next(
                    (m for m in ms if m["begin"] == rim.end()), None
                )
                if tgt is None:
                    continue
                for g in ko_genes:
                    if (g["db"], g["id"]) == (tgt["db"], tgt["id"]) or (
                        g["db"] != tgt["db"] and g["db"] in _GENE_NS
                        and tgt["db"] in _GENE_NS
                    ):
                        continue
                    emit(
                        f"{_render(g, text)} increases "
                        f"{_render(tgt, text)}",
                        _sig(g, "increases", tgt, None, None, None,
                             tag="ko"),
                    )

        # ---- substrate attribution --------------------------------------
        # "(known) <X> substrates" names X as the kinase of whatever the
        # block then reports as "phosphorylation of <Y> at <site>":
        # act(X) directlyIncreases p(Y, pmod(Ph, first site)). Cross-
        # sentence by design — the substrates sentence introduces the
        # enzyme, the assay sentences name its targets.
        if "substrate" in sent_lo:
            for m in ms:
                if _SUBSTRATES_AFTER_RE.match(text, m["end"], s_end):
                    state.substrate_enzyme = m
        enz = state.substrate_enzyme
        if enz is not None and "phosphorylation of" in sent_lo:
            for pv in _PHOSPHO_OF_SEP_RE.finditer(text, s_begin, s_end):
                y_m = next(
                    (y for y in ms if y["begin"] == pv.end()), None
                )
                if y_m is None or (y_m["db"], y_m["id"]) == (
                    enz["db"], enz["id"]
                ):
                    continue
                at = _KO_AT_SITE_RE.match(text[y_m["end"]: s_end])
                if at is None:
                    continue
                pmod = ("Ph", _RESIDUE_3[at.group(1).lower()],
                        int(at.group(2)))
                emit(
                    f"act({_render(enz, text)}) directlyIncreases "
                    f"{_render(y_m, text, pmod=pmod)}",
                    _sig(enz, "directlyIncreases", y_m, "act", None, pmod),
                )

        # ---- modification-event self-statements ---------------------------
        # "Phosphorylation at <sites> ... is (deemed) necessary for <X>
        # function/activity" -> per site: p(X, pmod) directlyIncreases
        # act(p(X)) (the wrapper the text names)
        if "phosphorylation" in sent_lo and "for" in sent_lo:
            for m in ms:
                fa = _FUNC_AFTER_RE.match(text, m["end"], s_end)
                if fa is None:
                    continue
                pn = _PHOS_NECESSARY_RE.search(text, s_begin, m["begin"])
                if pn is None:
                    continue
                wrap_f = _ACTIVITY_WRAP.get(fa.group(1).lower(), "act")
                for res, num in _parse_site_list(pn.group(1)):
                    pmod = ("Ph", res, num)
                    subj = make_term(m["db"], m["entry_name"], pmod=pmod,
                                     func=_term_func(m, text))
                    emit(
                        f"{subj} directlyIncreases "
                        f"{wrap_f}({_render(m, text)})",
                        _sig(m, "directlyIncreases", m, wrap_f, pmod, None),
                    )
        # "<mod> event at <residue> <pos> ... act as negative regulators of
        # the <adj> activity of <X>" -> p(X, pmod) directlyDecreases
        # tscript/cat/kin/act(p(X)), one statement per coordinated event
        if "regulator" in sent_lo:
            for m in ms:
                ra = _REGULATORS_OF_ACTIVITY_RE.search(
                    text, s_begin, m["begin"]
                )
                if ra is None:
                    continue
                rel = ("directlyDecreases"
                       if ra.group(1).lower() == "negative"
                       else "directlyIncreases")
                wrap_f = _ACTIVITY_WRAP.get(
                    (ra.group(2) or "").strip().lower(), "act"
                )
                for em in _MOD_EVENT_RE.finditer(text, s_begin, ra.start()):
                    if em.group(4) is None:
                        continue  # a bare nominal with no site position
                    res = (em.group(1) or em.group(3) or "").lower()
                    pmod = (
                        _MOD_NOMINAL_CODE[em.group(2).lower()],
                        _RESIDUE_NAME_CODE.get(res),
                        int(em.group(4)),
                    )
                    subj = make_term(m["db"], m["entry_name"], pmod=pmod,
                                     func=_term_func(m, text))
                    emit(
                        f"{subj} {rel} {wrap_f}({_render(m, text)})",
                        _sig(m, rel, m, wrap_f, pmod, None),
                    )
        # "(Proline) hydroxylation marks <X> for degradation" -> the
        # modified form recruits the degradation machinery:
        # p(X, pmod) directlyIncreases deg(p(X))
        if "marks" in sent_lo or "marked" in sent_lo:
            for m in ms:
                if not _FOR_DEG_RE.match(text[m["end"]: s_end]):
                    continue
                mm = _MOD_MARKS_RE.search(text, s_begin, m["begin"])
                if mm is None:
                    continue
                pmod = (
                    _MOD_NOMINAL_CODE[mm.group(2).lower()],
                    _RESIDUE_NAME_CODE.get((mm.group(1) or "").lower()),
                    None,
                )
                subj = make_term(m["db"], m["entry_name"], pmod=pmod,
                                 func=_term_func(m, text))
                emit(
                    f"{subj} directlyIncreases deg({_render(m, text)})",
                    _sig(m, "directlyIncreases", m, "deg", pmod, None),
                )
        # "-dependent" attribution: "<nominal> of <B> ... <X>-dependent"
        # -> X <nominal-direction> B; intervening text may carry location/
        # hedging phrases but no predicate of its own and no negation
        if "dependent" in sent_lo:
            for m in ms:
                if not _DEPENDENT_AFTER_RE.match(text[m["end"]: s_end]):
                    continue
                for b_m in ms:
                    if b_m is m or b_m["end"] > m["begin"]:
                        continue
                    if (b_m["db"], b_m["id"]) == (m["db"], m["id"]):
                        continue
                    lb2 = b_m["begin"]
                    npd = _NOMINAL_PREFIX_RE.search(
                        text[lb2 - 96 if lb2 > 96 else 0: lb2].lower()
                    )
                    if npd is None:
                        continue
                    nom = npd.group(1)
                    rel = ("increases" if nom in _NOMINAL_UP
                           else "decreases" if nom in _NOMINAL_DOWN
                           else None)
                    if rel is None:
                        continue
                    seg = text[b_m["end"]: m["begin"]].lower()
                    if _NEG_RE.search(seg) or any(
                        t in _ALL_CAUSAL_VERBS for t in _tokens(seg)
                    ):
                        continue
                    emit(
                        f"{_render(m, text)} {rel} {_render(b_m, text)}",
                        _sig(m, rel, b_m, None, None, None, tag="dep"),
                    )

        # ---- site-modification mediates a binary interaction -------------
        # "<Mod> at ... <residue> residues on (the) <A> ... mediates
        # interaction(s) between ... <B> ... and <A>": the modified A is
        # what recruits B, so p(A, pmod) directlyIncreases complex(B, A)
        # (complex members in between-clause mention order)
        med = (_MEDIATES_BETWEEN_RE.search(text, s_begin, s_end)
               if "mediates" in sent_lo else None)
        if med is not None:
            for hm in _MOD_RESIDUES_ON_RE.finditer(text, s_begin, med.start()):
                a_m = next((m for m in ms if m["begin"] == hm.end()), None)
                if a_m is None:
                    continue
                b_m = next((m for m in ms if m["begin"] >= med.end()), None)
                if b_m is None or (b_m["db"], b_m["id"]) == (
                    a_m["db"], a_m["id"]
                ):
                    continue
                a2 = next(
                    (m for m in ms
                     if m["begin"] > b_m["end"]
                     and (m["db"], m["id"]) == (a_m["db"], a_m["id"])
                     and _AND_SEP_RE.fullmatch(
                         text[b_m["end"]: m["begin"]])),
                    None,
                )
                if a2 is None:
                    continue
                pmod = (_MOD_NOMINAL_CODE[hm.group(1).lower()],
                        _RESIDUE_NAME_CODE[hm.group(2).lower()], None)
                subj = make_term(a_m["db"], a_m["entry_name"], pmod=pmod,
                                 func=_term_func(a_m, text))
                obj = f"complex({_render(b_m, text)},{_render(a2, text)})"
                emit(f"{subj} directlyIncreases {obj}",
                     _sig(a_m, "directlyIncreases", b_m, "complex",
                          pmod, None))
                break

        # ---- knockout-comparison target discovery -------------------------
        # "(the) gene encoding ... <B> ... discovered/identified as ...
        # based on ... <A>-null ... wild-type <A>": B surfaced in the
        # comparison BECAUSE it is derepressed in the null, so A decreases
        # r(B) — the nominal-discovery form of the knockout inference above
        disc = (_DISCOVERED_AS_RE.search(text, s_begin, s_end)
                if "discovered" in sent_lo or "identified" in sent_lo
                else None)
        if disc is not None:
            gene_b = next(
                (m for m in ms
                 if m["end"] <= disc.start()
                 and _GENE_ENCODING_RE.search(text[s_begin: m["begin"]])),
                None,
            )
            if gene_b is not None:
                for a_m in ms:
                    if (
                        a_m["begin"] < disc.end()
                        or (a_m["db"], a_m["id"])
                        == (gene_b["db"], gene_b["id"])
                        or not _KO_SUFFIX_RE.match(text, a_m["end"], s_end)
                        or (a_m["db"] != gene_b["db"]
                            and a_m["db"] in _GENE_NS
                            and gene_b["db"] in _GENE_NS)
                    ):
                        continue
                    # "wild-?\s?type\s+<alias>" case-insensitive, without a
                    # per-alias regex compile: scan the precompiled prefix
                    # over the lowercased segment and literal-compare the tail
                    low_alias = text[a_m["begin"]: a_m["end"]].lower()
                    low_seg = text[a_m["end"]: s_end].lower()
                    if not any(
                        low_seg.startswith(low_alias, w.end())
                        for w in _WILDTYPE_RE.finditer(low_seg)
                    ):
                        continue
                    emit(
                        f"{_render(a_m, text)} decreases "
                        + make_term(gene_b["db"], gene_b["entry_name"],
                                    func="r"),
                        _sig(a_m, "decreases", gene_b, None, None, None),
                    )

        # pre-scan: "X enhances the ability of Y to ..." composite subjects
        ability_subject: dict[int, tuple[dict, str]] = {}
        for k in range(len(ms) - 1):
            inter_k = text[ms[k]["end"]: ms[k + 1]["begin"]].strip().lower()
            if _TREATMENT_ABILITY_RE.fullmatch(
                inter_k
            ) or _ABILITY_RE.fullmatch(inter_k):
                comp = (
                    f"composite({_render(ms[k], text)},"
                    f"{_render(ms[k + 1], text)})"
                )
                ability_subject[k + 1] = (ms[k], comp)

        pending_requires: tuple[int, int] | None = None  # (stmt idx, agent ms-idx)
        # when a pair fired as an appositive modifier ("Aging, a major
        # predictor for <Y>, increases ..."), the NEXT pair's verb belongs
        # to the pre-appositive subject, not the appositive member
        appos_subject: dict[int, dict] = {}

        for i in range(len(ms) - 1):
            left, right = ms[i], ms[i + 1]
            inter = text[left["end"]: right["begin"]].strip()
            after_right = text[right["end"]: s_end]
            same_entity = (left["db"], left["id"]) == (right["db"], right["id"])
            # reduced-relative / participial clauses set off by commas
            # modify the subject; the matrix predicate follows the FINAL
            # comma ("X, which ..., increases Y") — a second chance for the
            # verb matchers when the full inter text fails. The negation
            # guard below still scans the whole inter text.
            inter_seg = inter.rsplit(",", 1)[1] if "," in inter else None

            # coordination context
            lgroup = _coord_group(ms, i, text, -1)
            rgroup = _coord_group(ms, i + 1, text, +1)
            l_members = [ms[j] for j in lgroup]
            r_members = [ms[j] for j in rgroup]

            low_inter = inter.lower()

            # ---- promoter object-redirect: "<stmt obj M> on a Z promoter" -
            # the real target of the statement is the promoter's gene (as
            # RNA), not the transcription factor M
            if (
                state.last_idx is not None
                and out[state.last_idx] is not None
                and state.last_object_m is left
                and _ON_DET_RE.fullmatch(low_inter)
                and _RNA_AFTER_RE.match(after_right)
            ):
                stmt, ev = out[state.last_idx]
                new_obj = _render(right, text)
                head = f"{state.last_subject} {state.last_rel} "
                if stmt.startswith(head):
                    out[state.last_idx] = (head + new_obj, ev)
                    state.last_object_m = right
                continue

            # ---- substrate-to-product reaction: "<proc> of <A> into <B>"
            # -> rxn(reactants(A),products(B)) subProcessOf proc (the BEL
            # reaction construction: "the glycolysis of glucose into
            # pyruvate") ---------------------------------------------------
            if (low_inter == "into" and i >= 1 and not same_entity
                    and ms[i - 1]["begin"] >= s_begin
                    and text[ms[i - 1]["end"]: left["begin"]].strip().lower()
                    == "of"):
                proc = _render(ms[i - 1], text)
                if proc.startswith(("bp(", "path(")):
                    emit(
                        f"rxn(reactants({_render(left, text)}),"
                        f"products({_render(right, text)})) "
                        f"subProcessOf {proc}",
                        _sig(left, "subProcessOf", right, "rxn", None, None),
                    )
                    continue

            # ---- cnc (checked before the negation guard: "no effect on") --
            if _CNC_RE.fullmatch(" ".join(_tokens(low_inter))):
                idx = emit_pair(left, "causesNoChange", right)
                if idx is not None:
                    state.cnc[f"{right['db']}:{right['id']}"] = (
                        _render(left, text), left, idx,
                    )
                continue

            # ---- requires-composite: rewrite the last statement's subject --
            if low_inter == "requires" or _REQUIRES_RE.fullmatch(low_inter):
                if (
                    out
                    and state.last_subject_m is left
                    and out[-1] is not None
                ):
                    stmt, ev = out[-1]
                    old_subj = state.last_subject
                    comp = f"composite({old_subj},{_render(right, text)})"
                    if stmt.startswith(old_subj + " "):
                        out[-1] = (comp + stmt[len(old_subj):], ev)
                continue

            # ---- "was decreased in the absence of <Y>" (flip) ------------
            # checked before the negation guard: "absence" IS the marker
            pas_abs = _match_passive(low_inter)
            if pas_abs is not None and pas_abs[1] == "absence_of":
                rel, _marker, pmod = pas_abs
                for agent_m in r_members:
                    for target_m in l_members:
                        emit_pair(agent_m, rel, target_m, obj_pmod=pmod)
                continue

            if _NEG_RE.search(inter):
                continue

            # ---- protective-agent correlation: "<B> ... protect(s) ...
            # from <A>-induced <process>" — the insult agent negatively
            # correlates with the protector; curators write the insult as
            # the statement subject (papers/pmid12928037.bel idiom)
            if (
                not same_entity
                and _PROTECT_FROM_RE.search(low_inter)
                and _INDUCED_AFTER_RE.match(after_right)
            ):
                # every member of the protector's coordination group (incl.
                # a class-apposition head: "two potent antioxidants, the
                # aminothiols <A> and <B>") correlates with the insult
                for prot_m in l_members:
                    emit_pair(right, "negativeCorrelation", prot_m)
                continue

            # ---- fold-continuation: ", 2.4-fold by B" --------------------
            if _FOLD_CONT_RE.fullmatch(" ".join(_tokens(low_inter))):
                if state.target is not None:
                    subj = _render(right, text)
                    emit(f"{subj} {state.rel} {state.target}",
                         _sig(right, state.rel, state.target_sig, None,
                              None, None))
                    if right not in state.agent_sigs:
                        state.agents.append(subj)
                        state.agent_sigs.append(right)
                continue

            # ---- synergize composite -------------------------------------
            syn = _match_synergize(low_inter)
            if syn is not None and len(l_members) >= 2:
                comp = "composite(" + ",".join(
                    _render(m, text) for m in l_members
                ) + ")"
                for obj_m in r_members:
                    emit(f"{comp} {syn} {_render(obj_m, text)}",
                         _sig(l_members[0], syn, obj_m, None, None, None,
                              tag="composite"))
                continue

            # ---- mediated-through ----------------------------------------
            if _MEDIATED_RE.fullmatch(low_inter):
                # "activation of <Y> (appears to be) mediated BY <X>": the
                # left is an event nominal's patient and "by" marks a true
                # passive agent — X drives Y with the nominal's direction.
                # Without the nominal prefix, "X('s effects) mediated
                # through/by Y" keeps the effector reading (X acts via Y).
                nom = _NOMINAL_OF_PREFIX_RE.search(
                    text, max(0, left["begin"] - 40), left["begin"]
                ) if low_inter.endswith("by") else None
                if nom is not None:
                    word = nom.group(1).lower()
                    rel = ("increases" if word in _NOMINAL_UP
                           else "decreases" if word in _NOMINAL_DOWN
                           else None)
                    if rel is not None:
                        emit_pair(right, rel, left)
                        continue
                wrap = (
                    "tscript"
                    if _TSCRIPT_EFFECTS_RE.search(text[: left["begin"]].lower())
                    else "act"
                )
                emit_pair(left, "increases", right, wrap=wrap)
                continue

            # ---- required-for --------------------------------------------
            req = _match_required_for(low_inter)
            if req is not None:
                for subj_m in l_members:
                    for obj_m in r_members:
                        emit_pair(subj_m, req, obj_m)
                continue

            # ---- "<X>-<Site> phosphorylation is required for <Y>
            # phosphorylation (at <sites>)": the site phospho-form
            # activates X itself, and active X drives Y's phosphorylation -
            sp = (_SITEPHOS_REQUIRED_RE.fullmatch(inter)
                  if "required" in low_inter else None)
            if sp is not None and not same_entity:
                pmod_l = ("Ph", sp.group(1).capitalize(), int(sp.group(2)))
                selfsubj = make_term(left["db"], left["entry_name"],
                                     pmod=pmod_l,
                                     func=_term_func(left, text))
                emit(
                    f"{selfsubj} directlyIncreases "
                    f"act({_render(left, text)})",
                    _sig(left, "directlyIncreases", left, "act",
                         pmod_l, None),
                )
                pa = _PHOS_AT_AFTER_RE.match(after_right)
                if pa is not None:
                    sites = (_parse_site_list(pa.group(1))
                             if pa.group(1) else [])
                    pmod_r = (("Ph", sites[0][0], sites[0][1]) if sites
                              else ("Ph", None, None))
                    emit(
                        f"act({_render(left, text)}) directlyIncreases "
                        f"{_render(right, text, pmod=pmod_r)}",
                        _sig(left, "directlyIncreases", right, "act",
                             None, pmod_r),
                    )
                continue

            # ---- reversed turnover attribution: "<Y>, mediates its
            # turnover ... of <X>" (agent follows) -> X dI deg(Y) ---------
            if (not same_entity and "turnover" in low_inter
                    and _MEDIATES_TURNOVER_RE.match(inter)):
                emit(
                    f"{_render(right, text)} directlyIncreases "
                    f"deg({_render(left, text)})",
                    _sig(right, "directlyIncreases", left, "deg",
                         None, None),
                )
                continue

            # ---- anaphoric activity attribution: "<A> ... <B> and
            # further stimulates its <adj> activity" -> A rel act(B);
            # the pair's own inter relation may additionally hold, so no
            # continue ----------------------------------------------------
            ia = (_ITS_ACTIVITY_AFTER_RE.match(after_right)
                  if " its " in sent_lo else None)
            if (ia is not None and not same_entity
                    and "by" not in _tokens(low_inter)
                    and not _NEG_RE.search(low_inter)):
                verb = ia.group(1).lower()
                arel = ("increases" if verb in _ITS_ACTIVITY_UP
                        else "decreases")
                wrap_f = _ACTIVITY_WRAP.get((ia.group(2) or "").lower(),
                                            "act")
                emit(
                    f"{_render(left, text)} {arel} "
                    f"{wrap_f}({_render(right, text)})",
                    _sig(left, arel, right, wrap_f, None, None,
                         tag="itsact"),
                )

            # ---- production consequence: "..., leading to ...
            # concentrations/levels of <B>" -> left increases B -----------
            lt = (_LEADING_TO_OF_RE.search(low_inter)
                  if "leading to" in low_inter else None)
            if lt is not None and not same_entity:
                adjs = set((lt.group(1) or "").split())
                lrel = "decreases" if adjs & _LEADING_DOWN else "increases"
                emit_pair(left, lrel, right)
                continue

            # ---- trailing-participle consequence: "<A> ..., causing
            # (cytolytic) <B>" --------------------------------------------
            prel = _match_trailing_participle(low_inter)
            if prel is not None and not same_entity:
                for subj_m in l_members:
                    for obj_m in r_members:
                        emit_pair(subj_m, prel, obj_m)
                continue

            # ---- possessive ability: "<A> ... for its ability to promote
            # (endothelial cell) <B>" --------------------------------------
            # "its/their" binds to the SENTENCE subject, so the left
            # operand must be (in the coordination group of) the
            # sentence's first mention — an intermediate object between
            # the subject and this pair must not steal the attribution
            ab = (_ABILITY_TO_RE.search(low_inter)
                  if "ability to" in low_inter and lgroup[0] == 0
                  else None)
            if (ab is not None and not same_entity
                    and not _NEG_RE.search(low_inter)):
                v = ab.group(1)
                abrel = ("increases" if v in _ACT_UP
                         else "decreases" if v in _ACT_DOWN
                         else "regulates" if v in _ACT_REG else None)
                if abrel is not None:
                    for subj_m in l_members:
                        for obj_m in r_members:
                            emit_pair(subj_m, abrel, obj_m)
                    continue

            # ---- possessive role gerund: "<A> ... for its role in
            # initiating ... and sustaining <B>" — same binding rule as
            # the ability idiom (its/their -> sentence subject); the LAST
            # gerund before the object governs this conjunct --------------
            rl = (_ROLE_IN_RE.search(low_inter)
                  if "role in" in low_inter and lgroup[0] == 0
                  else None)
            if (rl is not None and not same_entity
                    and not _NEG_RE.search(low_inter)):
                gtoks = [t for t in _tokens(low_inter[rl.end():])
                         if t in _GERUND_DIR]
                if gtoks:
                    rrel = ("increases" if _GERUND_DIR[gtoks[-1]] > 0
                            else "decreases")
                    for subj_m in l_members:
                        for obj_m in r_members:
                            emit_pair(subj_m, rrel, obj_m)
                    continue

            # ---- agent-noun predicate: "<X> is an essential mediator of
            # <Y1> and <VEGF>-induced <Y2>" — direction from the agent
            # noun; the object walk skips compound premodifiers (a member
            # followed by "-induced <head>" modifies the head, it is not
            # itself a conjunct) ------------------------------------------
            an = (_AGENT_NOUN_RE.match(low_inter)
                  if " of" in low_inter and not _NEG_RE.search(low_inter)
                  else None)
            if an is not None and not same_entity:
                d = _AGENT_NOUN_DIR[an.group(1)]
                anrel = ("increases" if d > 0
                         else "decreases" if d < 0 else "regulates")
                objs = []
                j = i + 1
                while j < len(ms):
                    nxt = (text[ms[j]["end"]: ms[j + 1]["begin"]]
                           if j + 1 < len(ms) else None)
                    if nxt is not None and _PREMOD_AFTER_RE.fullmatch(nxt):
                        j += 1  # premodifier of the next mention
                        continue
                    objs.append(ms[j])
                    if nxt is None or not _is_coord_sep(nxt):
                        break
                    j += 1
                for subj_m in l_members:
                    for obj_m in objs:
                        emit_pair(subj_m, anrel, obj_m)
                continue

            # ---- donor-rescue: "<X> donors ... rescued <Y1>, <Y2> ..." ---
            if _DONOR_RESCUE_RE.match(low_inter) and not same_entity:
                for obj_m in r_members:
                    emit_pair(left, "increases", obj_m)
                continue

            # ---- known-to-be-<A>-regulated appositive --------------------
            if (
                " ".join(_tokens(low_inter)) in {"regulated", "regulated,"}
                and _KNOWN_TO_BE_RE.search(text[: left["begin"]])
            ):
                for obj_m in r_members:
                    emit_pair(left, "regulates", obj_m)
                continue

            # ---- pretreatment nominal (agent before nominal) -------------
            pn = _match_pretreat_nominal(low_inter)
            if pn is not None and _PRETREAT_PREFIX_RE.search(
                text[: left["begin"]]
            ):
                cnc_hit = state.cnc.get(f"{right['db']}:{right['id']}")
                if cnc_hit is not None:
                    # synergy reading: "Y alone has no effect; after X
                    # pretreatment Z is induced" -> composite(Y, X) rel Z
                    y_term, y_m, cnc_idx = cnc_hit
                    comp = f"composite({y_term},{_render(left, text)})"
                    emit(f"{comp} {pn} {_render(right, text)}",
                         _sig(y_m, pn, right, None, None, None,
                              tag="composite"))
                    out[cnc_idx] = None  # the synergy statement subsumes cnc
                else:
                    emit_pair(left, pn, right)
                continue

            # ---- nominal prefix: "induction of X ... following Y" --------
            # lower only a tail window: the $-anchored cue is at most
            # "<nominal> of the " long, and no nominal in the vocab comes
            # near 80 chars, so a 96-char window cannot truncate a match
            lb = left["begin"]
            prefix = text[lb - 96 if lb > 96 else 0: lb].lower()
            npm = _NOMINAL_PREFIX_RE.search(prefix)
            if npm is not None:
                nom = npm.group(1)
                rel = obj_pmod = None
                if nom in _NOMINAL_UP:
                    rel = "increases"
                elif nom in _NOMINAL_DOWN:
                    rel = "decreases"
                elif nom in _NOMINAL_PMOD:
                    rel, mod = _NOMINAL_PMOD[nom]
                    obj_pmod = (mod, None, None)
                if rel is not None:
                    toks = _tokens(low_inter)
                    if (
                        toks
                        and toks[-1] in _AGENT_MARKERS
                        and all(t in _NOMINAL_MID or _is_num(t)
                                for t in toks[:-1])
                    ):
                        emit_pair(right, rel, left, obj_pmod=obj_pmod,
                                  subj_override=ability_subject.get(
                                      i + 1, (None, None))[1])
                        continue

            # ---- nominal postfix: "X phosphorylation by Y",
            # "X inhibition by Y" -> Y rel X (reversed) ---------------------
            mpost = _NOMINAL_BY_RE.fullmatch(low_inter)
            if mpost is not None and mpost.group(1) in _NOMINAL_PMOD:
                rel, mod = _NOMINAL_PMOD[mpost.group(1)]
                site = _SITE_RE.match(after_right)
                pmod = (
                    (mod, _RESIDUE_3[site.group(1).lower()], int(site.group(2)))
                    if site else (mod, None, None)
                )
                idx = emit_pair(right, rel, left, obj_pmod=pmod)
                if idx is not None:
                    pending_requires = (idx, i + 1)
                continue
            if mpost is not None and (
                mpost.group(1) in _NOMINAL_UP or mpost.group(1) in _NOMINAL_DOWN
            ):
                rel = ("increases" if mpost.group(1) in _NOMINAL_UP
                       else "decreases")
                emit_pair(right, rel, left)
                continue

            # ---- possessive nominal: "X ... through its suppression of
            # (the activity of) Y" — "its" binds to the nearest preceding
            # mention, the sentence subject -----------------------------------
            poss = _POSS_NOMINAL_RE.search(low_inter)
            if poss is not None and not same_entity:
                nom = poss.group(1)
                prel = ("increases" if nom in _NOMINAL_UP
                        else "decreases" if nom in _NOMINAL_DOWN else None)
                if prel is not None:
                    emit_pair(left, prel, right)
                    continue

            # ---- group association ---------------------------------------
            if same_entity:
                # continuation: "R5020 increased X ..., but also promoted
                # nuclear translocation of X" — reuse the last subject
                act = _retry_seg(_match_active, low_inter, inter_seg)
                if act is not None and state.last_subject is not None \
                        and state.last_subject_m is not None \
                        and (state.last_subject_m["db"],
                             state.last_subject_m["id"]) != (right["db"],
                                                             right["id"]):
                    rel, trail = act
                    wrap, obj_pmod = _active_flags(trail, after_right)
                    subj_m = state.last_subject_m
                    obj = _render(right, text, pmod=obj_pmod, wrap=wrap)
                    emit(f"{state.last_subject} {rel} {obj}",
                         _sig(subj_m, rel, right, wrap, None,
                              obj_pmod and obj_pmod[0]))
                continue

            # ---- compound premodifier: "<X>-induced <Y>" ------------------
            comp_rel = _match_compound(inter)
            if comp_rel is not None and not same_entity:
                emit_pair(left, comp_rel, right)
                continue

            # ---- pro-/anti- adjectival object: "X exerts pro-<P> effects",
            # "X can be anti-<P>"; bare process adjective + agent noun:
            # "X is a potent angiogenic factor" --------------------------------
            r_alias = (right.get("alias") or "").lower()
            is_prefixed = r_alias.startswith(("pro-", "anti-"))
            is_bare_process_adj = (
                not is_prefixed
                and r_alias.endswith(("ic", "genic"))
                and NS_FUNC.get(right["db"]) in {"bp", "path"}
            )
            if (is_prefixed or is_bare_process_adj) and not same_entity:
                # the agent noun may follow the adjective mention itself
                # ("... is a potent angiogenic FACTOR")
                need_factor = is_bare_process_adj and not _FACTOR_AFTER_RE.match(
                    after_right
                )
                if _match_adj_predicate(low_inter, need_factor) or (
                    inter_seg and inter_seg.strip()
                    and _match_adj_predicate(inter_seg, need_factor)
                ):
                    rel = ("decreases" if r_alias.startswith("anti-")
                           else "increases")
                    emit_pair(left, rel, right)
                    continue

            # ---- appositive exemplification: ", such as the activation of"
            sa_rel = _retry_seg(_match_such_as_nominal, low_inter, inter_seg)
            if sa_rel is not None and not same_entity:
                emit_pair(left, sa_rel, right)
                continue

            # ---- predictor idiom: "X, a major predictor for Y" ------------
            pred_rel = _retry_seg(_match_predictor, low_inter, inter_seg)
            if pred_rel is not None and not same_entity:
                emit_pair(left, pred_rel, right)
                appos_subject[i + 1] = left
                continue

            # ---- targets-for-degradation: "X targets Y for proteolysis" --
            tdeg = _match_target_for_deg(low_inter, after_right)
            if tdeg is None and _AND_OR_SEARCH_RE.search(low_inter):
                tdeg = _match_target_for_deg(
                    _AND_OR_SPLIT_RE.split(low_inter)[-1], after_right
                )
            if tdeg is not None and not same_entity:
                emit_pair(left, tdeg, right)
                continue

            # ---- instrumental by-gerund: the agent is the matrix subject
            # (nearest mention left of the pair, same sentence) -------------
            bg = _BY_GERUND_RE.match(low_inter)
            if bg is not None and i >= 1 and ms[i - 1]["begin"] >= s_begin:
                ger = bg.group(1)
                grel = ("increases" if ger in _GERUND_UP
                        else "decreases" if ger in _GERUND_DOWN else None)
                subj_m = ms[i - 1]
                if grel is not None and (subj_m["db"], subj_m["id"]) != (
                    right["db"], right["id"]
                ):
                    emit_pair(subj_m, grel, right)
                    continue
            # tail-anchored variant: the pair's own left mention is the
            # matrix subject ("<ROS> overproduction ... by inducing <Y>");
            # the matrix verb's sign is irrelevant — the by-clause is the
            # mechanism the subject itself performs
            if (bg is None and lgroup[0] == 0 and not same_entity
                    and not _NEG_RE.search(low_inter)):
                bgt = (_BY_GERUND_TAIL_RE.search(low_inter)
                       if "by " in low_inter else None)
                if bgt is not None:
                    ger = bgt.group(1)
                    grel = ("increases" if ger in _GERUND_UP
                            else "decreases" if ger in _GERUND_DOWN
                            else None)
                    if grel is not None:
                        for obj_m in r_members:
                            emit_pair(left, grel, obj_m)
                        continue

            # ---- perturbation-prevalence: "the <loss-nominal> of X has
            # been <observed-verb> in <fraction> of <disease>" — the
            # tumor-suppressor epidemiology construction; nominal direction
            # picks the correlation sign, object must be a pathology ------
            if NS_FUNC.get(right["db"]) == "path" and not same_entity:
                lb = left["begin"]
                prev = _PREVALENCE_PREFIX_RE.search(
                    text, lb - 96 if lb > 96 else 0, lb
                )
                nom = prev.group(1).lower() if prev else None
                rel = (
                    "negativeCorrelation" if nom in _LOSS_NOMINALS
                    else "positiveCorrelation" if nom in _GAIN_NOMINALS
                    else None
                )
                if rel is not None and _match_prevalence(low_inter) and not (
                    # negation just before the nominal flips nothing —
                    # it kills ("no loss of X was found in ...")
                    _NEG_RE.search(text[max(0, prev.start() - 24): prev.start()])
                ):
                    emit_pair(left, rel, right)
                    continue

            # ---- hedged association idiom: "X has (also) been implicated/
            # involved in Y (and Z)" — association over both coordination
            # groups, like the active rule ---------------------------------
            # ---- characterized-by with an event delta: "<P> ...,
            # characterized by increased <A> and <B>" — the deltas are
            # constituent events of the holder process, so A/B
            # subProcessOf P (contrast: "characterized by the presence of
            # <entity>" below reads as plain association) ------------------
            if (not same_entity
                    and "characteri" in low_inter
                    and _CHAR_BY_DELTA_RE.search(low_inter)
                    and not _NEG_RE.search(low_inter)):
                for obj_m in r_members:
                    emit_pair(obj_m, "subProcessOf", left)
                continue

            # ---- hedged involvement with an infinitive of purpose:
            # "<X> are involved in signaling to mediate <Y1>, <Y2>" — the
            # purpose clause gives the direction the bare hedge lacks ------
            if (not same_entity
                    and _INVOLVED_MEDIATE_RE.match(low_inter)
                    and not _NEG_RE.search(low_inter)):
                for obj_m in r_members:
                    emit_pair(left, "increases", obj_m)
                continue

            arel = _retry_seg(_match_assoc, low_inter, inter_seg)
            # "X characterized by Y": X is the topical subject the curator
            # writes first, so this construction emits in prose order; the
            # hedged forms below have no topical operand and emit in
            # canonical sorted-term order
            arel_prose_order = False
            if arel is None and not same_entity and _CHARACTERIZED_BY_RE.match(
                " ".join(_tokens(low_inter))
            ):
                # defining-feature co-occurrence reads as association
                arel = "association"
                arel_prose_order = True
            if arel is None and not same_entity:
                # directional-state correlation, with condition chaining:
                # "<A> is up regulated in <B> and under conditions of <C>"
                # -> A corr B AND A corr C (the chained conditions share
                # the matrix subject, not each other)
                sc = _retry_seg(_match_state_in, low_inter, inter_seg)
                if sc is not None:
                    objs = [right]
                    j = i + 1
                    while j + 1 < len(ms):
                        nxt = text[ms[j]["end"]: ms[j + 1]["begin"]].strip()
                        if not _COND_CONNECT_RE.fullmatch(nxt):
                            break
                        objs.append(ms[j + 1])
                        j += 1
                    for obj_m in objs:
                        # prose order, not canonical: in this construction
                        # the matrix subject IS the curator's subject
                        key = (
                            frozenset(
                                f"{x['db']}:{x['entry_name']}"
                                for x in (left, obj_m)
                            ),
                            sc,
                        )
                        if key in sym_pairs:
                            continue
                        sym_pairs.add(key)
                        emit_pair(left, sc, obj_m)
                    continue
            if arel is not None and not same_entity:
                for subj_m in l_members:
                    for obj_m in r_members:
                        # association / signed correlations are symmetric
                        # in BEL — hedged forms emit in canonical
                        # (sorted-term) order so the statement is a pure
                        # function of the PAIR; constructions with a
                        # topical operand (characterized-by) emit in prose
                        # order, matching how curators write them. Dedup is
                        # order-insensitive (frozenset key) either way.
                        a_m, b_m = subj_m, obj_m
                        if not arel_prose_order and (
                            _render(b_m, text) < _render(a_m, text)
                        ):
                            a_m, b_m = b_m, a_m
                        key = (
                            frozenset(
                                f"{m['db']}:{m['entry_name']}"
                                for m in (a_m, b_m)
                            ),
                            arel,
                        )
                        if key in sym_pairs:
                            continue
                        sym_pairs.add(key)
                        emit_pair(a_m, arel, b_m)
                continue

            # ---- consequence chain: "..., resulting in the <nominal> of
            # <C>" right after a pair whose object is this pair's left ----
            if (state.last_object_m is not None
                    and state.last_scn_dir
                    and not same_entity
                    and (left["db"], left["id"]) == (
                        state.last_object_m["db"],
                        state.last_object_m["id"])):
                rm = _RESULTING_IN_RE.match(low_inter)
                if rm is not None:
                    nom = rm.group(1)
                    cdir = (1 if nom in _NOMINAL_UP
                            else -1 if nom in _NOMINAL_DOWN else 0)
                    if cdir:
                        rrel = ("increases"
                                if state.last_scn_dir * cdir > 0
                                else "decreases")
                        for obj_m in r_members:
                            emit_pair(left, rrel, obj_m)
                        continue

            # ---- active verb + filler ------------------------------------
            # an object mention opening with "(" right after the inter text
            # is a parenthesized abbreviation whose long-form name sits in
            # the trail ("increases cytochrome P450 2E1 (CYP2E1)")
            _abbrev = low_inter.endswith("(")
            act = _retry_seg(
                lambda s: _match_active(s, abbrev_tail=_abbrev),
                low_inter, inter_seg,
            )
            if act is None and low_inter.startswith(","):
                # asyndetic list with a non-mention item before the verb:
                # "VEGF, insulin, bFGF increase <Y>" — the pair (insulin,
                # Y) sees ", bFGF increase"; strip up to two unknown
                # non-verb, non-connective tokens and retry (the left
                # coordination group still collects the mention conjuncts)
                atoks = _tokens(low_inter)
                k = 0
                while (k < min(2, len(atoks) - 1)
                       and atoks[k] not in _ALL_CAUSAL_VERBS
                       and atoks[k] not in _ACT_LEAD
                       and atoks[k] not in _CONNECTIVES):
                    k += 1
                if 0 < k < len(atoks):
                    act = _match_active(" ".join(atoks[k:]))
            if act is None and _AND_OR_SEARCH_RE.search(low_inter):
                # VP coordination: "has been shown to co-localize with ...
                # and to promote <Y>" — the final conjunct's verb phrase
                # governs the object (no coord budget: the segment must be
                # lead-fillers + verb only)
                act = _match_active(
                    _AND_OR_SPLIT_RE.split(low_inter)[-1]
                )
            if act is not None:
                rel, trail = act
                # narrated direction of the object (for the consequence-
                # chain rule): the verb's own sign, BEFORE any flip
                scn_dir = _REL_SIGN.get(rel, 0)
                # "ablation/loss/knockout of <X> abolished <Y>" — the
                # subject is the ABLATED gene, so the observed direction
                # flips: X positively regulates Y
                if _ABLATION_PREFIX_RE.search(
                    text, left["begin"] - 72 if left["begin"] > 72 else 0,
                    left["begin"],
                ):
                    rel = _FLIP.get(rel, rel)
                wrap, obj_pmod = _active_flags(trail, after_right)
                site = _SITE_RE.match(after_right) if obj_pmod else None
                if site and obj_pmod:
                    obj_pmod = (obj_pmod[0],
                                _RESIDUE_3[site.group(1).lower()],
                                int(site.group(2)))
                subj_override = ability_subject.get(i, (None, None))[1]
                if i in appos_subject and subj_override is None:
                    subj_list = [appos_subject[i]]
                elif subj_override is None:
                    subj_list = l_members
                else:
                    subj_list = [left]
                # ---- conjoined VP: the "and/or" before the verb may
                # coordinate VERB PHRASES, not subjects — "<S list>
                # stimulated phosphorylation of <X> and increased
                # phosphorylation of <Y>". Two cues, both requiring the
                # matched verb to sit right after the connective:
                #   * left IS the previous statement's object (X): left is
                #     the first VP's object, so the MATRIX subjects govern
                #     Y and left must NOT become a subject;
                #   * left sits in a comparative adjunct ("more
                #     efficiently than <Z> and increased ..."): Z keeps
                #     its own reading (the comparable-to clause) AND the
                #     matrix subjects govern Y too.
                if subj_override is None and state.last_subject_list:
                    vtoks = _tokens(low_inter)
                    vp_coord = (
                        len(vtoks) >= 2
                        and vtoks[0] in {"and", "or"}
                        and any(t in _CAUSAL_CORE for t in vtoks[1:3])
                    )
                    if vp_coord and state.last_object_m is not None and (
                        (left["db"], left["id"])
                        == (state.last_object_m["db"],
                            state.last_object_m["id"])
                    ):
                        subj_list = [
                            m for m in state.last_subject_list
                            if (m["db"], m["id"]) != (right["db"],
                                                      right["id"])
                        ] or subj_list
                    elif vp_coord and _THAN_BEFORE_RE.search(
                        text,
                        max(0, ms[lgroup[0]]["begin"] - 48),
                        ms[lgroup[0]]["begin"],
                    ):
                        seen_sb = {(m["db"], m["id"]) for m in subj_list}
                        subj_list = subj_list + [
                            m for m in state.last_subject_list
                            if (m["db"], m["id"]) not in seen_sb
                            and (m["db"], m["id"]) != (right["db"],
                                                       right["id"])
                        ]
                # contrast exclusion: "<A>, but not <B>, <verb> <Y>" —
                # the verb belongs to A; B explicitly does NOT change Y
                if (subj_override is None and i >= 1
                        and lgroup[0] == i
                        and _BUT_NOT_SEP_RE.fullmatch(
                            text[ms[i - 1]["end"]: left["begin"]].strip()
                        )):
                    subj_list = [ms[i - 1]]
                    for obj_m in r_members:
                        emit_pair(left, "causesNoChange", obj_m)
                for subj_m in subj_list:
                    for obj_m in r_members:
                        emit_pair(subj_m, rel, obj_m, wrap=wrap,
                                  obj_pmod=obj_pmod,
                                  subj_override=subj_override)
                if subj_override is None:
                    state.last_subject_list = list(subj_list)
                state.last_scn_dir = scn_dir
                continue

            # ---- ablated-subject clause chain: "The depletion of <X> ...
            # can impair ..., which can trigger ... and <Y>" — each
            # "which" re-binds to the preceding EVENT, so only the
            # ablation flip and the FINAL causal verb's sign compose; the
            # simple one-verb form is the active branch above -------------
            if (lgroup[0] == 0 and not same_entity
                    and "which" in low_inter
                    and not _NEG_RE.search(low_inter)
                    and _ABLATION_PREFIX_RE.search(
                        text,
                        left["begin"] - 72 if left["begin"] > 72 else 0,
                        left["begin"])):
                vlast = next(
                    (t for t in reversed(_tokens(low_inter))
                     if t in _ACT_UP or t in _ACT_DOWN), None
                )
                if vlast is not None:
                    rel3 = "decreases" if vlast in _ACT_UP else "increases"
                    for obj_m in r_members:
                        emit_pair(left, rel3, obj_m)
                    continue

            # ---- loss attribution: "<Y>(-induced) (cell-surface)
            # expression due to the loss of <X>" — the event exists
            # because X is GONE, so X regulates it with the flipped sign -
            dtl = (_DUE_TO_LOSS_RE.search(low_inter)
                   if "due to" in low_inter and not same_entity
                   and not _NEG_RE.search(low_inter) else None)
            if dtl is not None:
                # event direction from the tokens BEFORE the marker only
                # (the marker's own "loss" must not set it); hyphenated
                # premodifier residue ("-induced") counts stripped
                edir = 0
                for t in _tokens(low_inter[: dtl.start()]):
                    t = t.lstrip("-−–")
                    if t in _PASSIVE_UP or t in _NOMINAL_UP:
                        edir = 1
                    elif t in _PASSIVE_DOWN or t in _NOMINAL_DOWN:
                        edir = -1
                if edir:
                    emit_pair(
                        right,
                        "decreases" if edir > 0 else "increases",
                        left,
                        wrap="surf" if "surface" in low_inter else None,
                    )
                    continue

            # ---- trailing agent nominal: "<Y> ... increases by a factor
            # of N following activation of <X>" — direction is the verb's
            # sign composed with the nominal's; activation wraps act(X) --
            fn = (_FOLLOWING_NOMINAL_RE.search(low_inter)
                  if "following" in low_inter else None)
            if fn is not None and not same_entity and not _NEG_RE.search(
                low_inter
            ):
                vsign = (1 if fn.group(1).startswith(("incr", "ris", "rose"))
                         else -1)
                nom = fn.group(2)
                nsign = (1 if nom in _NOMINAL_UP
                         else -1 if nom in _NOMINAL_DOWN else 0)
                if nsign:
                    rel5 = "increases" if vsign * nsign > 0 else "decreases"
                    subj_override = (f"act({_render(right, text)})"
                                     if nom == "activation" else None)
                    emit_pair(right, rel5, left,
                              subj_override=subj_override)
                    continue

            # ---- targeting therapy: "Therapies that target <Y>, such as
            # <X>" -> X decreases Y ----------------------------------------
            if ("such as" in low_inter and not same_entity
                    and _SUCH_AS_SEP_RE.fullmatch(low_inter)
                    and _TARGETS_BEFORE_RE.search(
                        text,
                        left["begin"] - 32 if left["begin"] > 32 else 0,
                        left["begin"])):
                for agent_m in r_members:
                    emit_pair(agent_m, "decreases", left)
                continue

            # ---- "<X> -mediated activation of the <Y> promoter": the
            # premodifier names the agent, the nominal the direction ------
            if ("mediated" in low_inter and not same_entity):
                mn = _MEDIATED_NOMINAL_RE.match(low_inter)
                if mn is not None:
                    nom = mn.group(1)
                    mrel = ("increases" if nom in _NOMINAL_UP
                            else "decreases" if nom in _NOMINAL_DOWN
                            else None)
                    if mrel is not None:
                        for obj_m in r_members:
                            emit_pair(left, mrel, obj_m)
                        continue

            # ---- "<Y> ... is a direct target for <X>" ---------------------
            if "direct target" in low_inter and not same_entity:
                cand = [" ".join(_tokens(low_inter))]
                if inter_seg:
                    cand.append(" ".join(_tokens(inter_seg.lower())))
                if any(_DIRECT_TARGET_RE.fullmatch(c) for c in cand):
                    emit_pair(right, "directlyIncreases", left)
                    continue

            # ---- nuclear efflux: "<A> caused ... efflux of <X> ... from
            # nuclei" -> A increases tloc(X, Cell Nucleus, Cytoplasm) ------
            if (not same_entity
                    and ("efflux" in low_inter or "export" in low_inter
                         or "exit" in low_inter)
                    and _EFFLUX_OF_RE.search(low_inter)
                    and _FROM_NUCLEUS_RE.search(after_right[:120])
                    and not _NEG_RE.search(low_inter)):
                emit_pair(left, "increases", right, wrap="tloc_out")
                continue

            # ---- resulting-consequence bound to the sentence subject:
            # "<A> and <B> up-regulate ..., resulting in an increase of
            # <C>" — the result is the subjects' doing whatever the matrix
            # verb's sign (the state-chained variant above handles the
            # case where the result's base is the previous object) --------
            rseg = (_RESULTING_SEG_RE.search(low_inter)
                    if "resulting" in low_inter else None)
            if rseg is not None and not _NEG_RE.search(low_inter):
                nom = rseg.group(1)
                cdir = (1 if nom in _NOMINAL_UP
                        else -1 if nom in _NOMINAL_DOWN else 0)
                if cdir:
                    rrel = "increases" if cdir > 0 else "decreases"
                    done = False
                    for j in _coord_group(ms, 0, text, +1):
                        subj_m = ms[j]
                        if (subj_m["db"], subj_m["id"]) == (
                            right["db"], right["id"]
                        ):
                            continue
                        for obj_m in r_members:
                            emit_pair(subj_m, rrel, obj_m)
                            done = True
                    if done:
                        continue

            # ---- passive + agent (reversed) ------------------------------
            pas = _retry_seg(_match_passive, low_inter, inter_seg)
            if pas is None and " but " in low_inter:
                # contrastive coordinated predicate: "<Y> ... is
                # constitutive but may be enhanced by <agents>" — the
                # post-"but" clause governs the following agent list
                pas = _match_passive(low_inter.rsplit(" but ", 1)[1])
            if pas is None:
                red = _match_reduced_passive(low_inter)
                if red is not None:
                    pas = (red, "by", None)
            if pas is not None:
                rel, _marker, pmod = pas
                if pmod is not None and pmod[1] is None:
                    site = _SITE_RE.match(after_right)
                    if site:
                        pmod = (pmod[0],
                                _RESIDUE_3[site.group(1).lower()],
                                int(site.group(2)))
                # agent-side coordination: "induced by ... such as A, B and C"
                for agent_m in r_members:
                    for target_m in l_members:
                        emit_pair(agent_m, rel, target_m, obj_pmod=pmod)
                # narrated direction of the target: the participle's sign
                # (absence_of already flipped rel, so un-flip for the story)
                state.last_scn_dir = _REL_SIGN.get(rel, 0) * (
                    -1 if _marker == "absence_of" else 1
                )
                state.target = _render(left, text, pmod=pmod)
                state.target_sig = left
                state.rel = rel
                state.agents = [_render(m, text) for m in r_members]
                state.agent_sigs = list(r_members)
                continue

            # ---- group association: "A and B are associated" -------------
            if len(lgroup) >= 2 and i == lgroup[-1] - 0:
                pass  # handled below on trailing text

        # ---- anaphoric plural subject: "These two proteins are
        # up-regulated during X" — resolve to the last N protein mentions
        for m in (ms if "during" in sent_lo else ()):
            am = _ANAPHOR_DURING_RE.search(text, s_begin, m["begin"])
            if am is None:
                continue
            n = _N_WORD.get((am.group(1) or "two").lower(), 2)
            verb = am.group(2).lower()
            rel = (
                "positiveCorrelation"
                if verb in _PASSIVE_UP or verb.startswith("up")
                else "negativeCorrelation"
            )
            seen_ent = set()
            ante = []
            for pm in reversed(state.protein_history):
                k = (pm["db"], pm["id"])
                if k in seen_ent:
                    continue
                seen_ent.add(k)
                ante.append(pm)
                if len(ante) == n:
                    break
            for pm in reversed(ante):
                emit(f"{_render(m, text)} {rel} {_render(pm, text)}",
                     _sig(m, rel, pm, None, None, None))

        # ---- anaphoric dual subject with infinitive: "Both kinases were
        # able to phosphorylate <Y1>, <Y2> and <Y3>" — the two most recent
        # distinct prior protein mentions each act on every object --------
        ba = (_BOTH_ABLE_RE.match(sent_lo)
              if sent_lo.lstrip().startswith("both ") else None)
        if ba is not None and state.protein_history:
            v = ba.group(1)
            brel, bmod = _INFINITIVE_PMOD.get(v, (None, None))
            if brel is None and v in _ACT_UP:
                brel = "increases"
            elif brel is None and v in _ACT_DOWN:
                brel = "decreases"
            if brel is not None:
                seen_ent = set()
                ante = []
                for pm in reversed(state.protein_history):
                    k = (pm["db"], pm["id"])
                    if k in seen_ent:
                        continue
                    seen_ent.add(k)
                    ante.append(pm)
                    if len(ante) == 2:
                        break
                vend = s_begin + ba.end(1)
                for obj_m in ms:
                    if obj_m["begin"] < vend:
                        continue
                    for pm in reversed(ante):
                        if (pm["db"], pm["id"]) == (
                            obj_m["db"], obj_m["id"]
                        ):
                            continue
                        emit_pair(
                            pm, brel, obj_m,
                            obj_pmod=((bmod, None, None) if bmod else None),
                        )

        # ---- trailing-text rules per mention -----------------------------
        for i, m in enumerate(ms):
            nxt_begin = ms[i + 1]["begin"] if i + 1 < len(ms) else s_end
            tail = text[m["end"]: nxt_begin]
            # contrast-clause object anaphora: "<A...> increase <O> while
            # <M> (and <non-mention>) <verb> it" — "it" is the object of
            # the statement just emitted, the contrast verb gives the sign
            if (
                state.last_idx is not None
                and out[state.last_idx] is not None
                and _WHILE_BEFORE_RE.search(
                    text, max(s_begin, m["begin"] - 16), m["begin"]
                )
            ):
                tv = _VERB_IT_RE.match(tail)
                v = tv.group(1) if tv else None
                rel2 = ("increases" if v in _ACT_UP
                        else "decreases" if v in _ACT_DOWN else None)
                if rel2 is not None:
                    stmt0, _ev0 = out[state.last_idx]
                    sep0 = f" {state.last_rel} "
                    if sep0 in stmt0:
                        objterm = stmt0.split(sep0, 1)[1]
                        emit(f"{_render(m, text)} {rel2} {objterm}")
                        continue
            # group association on the final member of a coordination
            grp = _coord_group(ms, i, text, -1)
            if len(grp) >= 2 and grp[-1] == i and _GROUP_ASSOC_RE.match(tail):
                members = [ms[j] for j in grp]
                for a_m, b_m in zip(members, members[1:]):
                    if (a_m["db"], a_m["id"]) == (b_m["db"], b_m["id"]):
                        continue
                    emit_pair(a_m, "association", b_m)
                continue
            # "phosphorylation of <X> ... at the <Y> target site(s) <sites>"
            # -> Y directlyIncreases p(X, pmod(Ph, site)) per listed site
            tsm = _TARGET_SITE_TAIL_RE.match(tail)
            if tsm is not None:
                pm = None
                for prior in _PHOSPHO_OF_RE.finditer(text[s_begin: m["begin"]]):
                    pm = prior
                if pm is not None:
                    x_m = next(
                        (
                            x
                            for x in ms
                            if x["begin"] >= s_begin + pm.end()
                            and x["end"] <= m["begin"]
                            and (x["db"], x["id"]) != (m["db"], m["id"])
                        ),
                        None,
                    )
                    if x_m is not None:
                        for res, pos in _parse_site_list(tsm.group(1)):
                            emit_pair(
                                m, "directlyIncreases", x_m,
                                obj_pmod=("Ph", res, pos),
                            )
                        continue

            # "phosphorylation of <Y> at <site>, which is the <X>-mediated
            # site" -> X directlyIncreases p(Y, pmod(Ph, site)): the
            # "-mediated site" apposition names the kinase of that site
            med_site = _MEDIATED_SITE_RE.match(tail)
            if med_site is not None:
                pm = None
                for prior in _PHOSPHO_OF_RE.finditer(text[s_begin: m["begin"]]):
                    pm = prior
                if pm is not None:
                    y_m = next(
                        (
                            x
                            for x in ms
                            if x["begin"] >= s_begin + pm.end()
                            and x["end"] <= m["begin"]
                            and (x["db"], x["id"]) != (m["db"], m["id"])
                        ),
                        None,
                    )
                    if y_m is not None:
                        site = _SITE_RE.match(text[y_m["end"]: m["begin"]])
                        pmod = (
                            ("Ph", _RESIDUE_3[site.group(1).lower()],
                             int(site.group(2)))
                            if site else ("Ph", None, None)
                        )
                        emit_pair(m, "directlyIncreases", y_m, obj_pmod=pmod)
                        continue

            # "the <X> dependence of this effect" — the anaphoric effect is
            # the last passive's target: X increases target
            if (
                state.target is not None
                and _DEPENDENCE_RE.match(tail)
                and (m["db"], m["id"]) != (state.target_sig["db"],
                                           state.target_sig["id"])
            ):
                emit(f"{_render(m, text)} increases {state.target}",
                     _sig(m, "increases", state.target_sig, None, None, None))
                continue
            # agentless passive with carried-over agent
            if _NEG_RE.search(tail[:60]):
                continue
            rel = _match_agentless_passive(tail)
            if rel is not None and state.agents:
                agent = state.agents[-1]
                agent_m = state.agent_sigs[-1]
                if (agent_m["db"], agent_m["id"]) != (m["db"], m["id"]):
                    emit(f"{agent} {rel} {_render(m, text)}",
                         _sig(agent_m, rel, m, None, None, None))

        # mentions of this sentence become antecedent candidates for the next
        state.protein_history.extend(
            m for m in ms if m["db"] in _PROTEIN_NS
        )

        # ---- both-hormones composite trigger -----------------------------
        if (
            state.target is not None
            and len(state.agents) >= 2
            and ("both" in sent_lo or "together" in sent_lo
                 or "the two" in sent_lo)
            and _BOTH_TOGETHER_RE.search(sent)
        ):
            comp = "composite(" + ",".join(reversed(state.agents[-2:])) + ")"
            emit(f"{comp} {state.rel} {state.target}",
                 _sig(state.agent_sigs[-1], state.rel, state.target_sig,
                      None, None, None, tag="composite"))

    return [o for o in out if o is not None]


def _active_flags(trail: list[str], after_right: str):
    """(wrap, obj_pmod) flags derived from an active pattern's trailing
    filler tokens and the text after the object mention."""
    wrap = None
    obj_pmod = None
    if "translocation" in trail and (
        "nuclear" in trail or _TLOC_AFTER_RE.match(after_right)
    ):
        wrap = "tloc"
    elif "transcription" in trail or "transcriptional" in trail:
        wrap = "tscript"
    elif "activity" in trail:
        wrap = "act"
    if "phosphorylation" in trail or _PHOSPHO_AFTER_RE.match(after_right):
        obj_pmod = ("Ph", None, None)
    return wrap, obj_pmod


# ---------------------------------------------------------------------------
# Spark operator: fused mention-detection + block extraction (one Arrow
# crossing per partition, zero shuffle — same plan shape as operators/fused.py)
# ---------------------------------------------------------------------------


def extract_statements_extended(
    paragraphs, alias_rows: list, text_col: str = "text"
):
    """PARAGRAPHS(url, warc_ts, para_idx, ``text_col``) -> STATEMENTS with
    the extended block-level pattern engine, ``sent_idx = 0``.

    The block projection of the one extraction kernel
    (``operators/fused.py``) over a paragraphs table: one Python crossing,
    the matcher built once per worker, a map-only scan — no shuffle,
    broadcast-sized driver footprint.
    """
    from ..schemas import STATEMENTS
    from .fused import crossing, statement_rows

    def read(pdf):
        for url, warc_ts, para_idx, text in zip(
            pdf["url"], pdf["warc_ts"], pdf["para_idx"], pdf[text_col]
        ):
            yield url, warc_ts, ((para_idx, text),)

    return crossing(
        paragraphs.select("url", "warc_ts", "para_idx", text_col),
        alias_rows, STATEMENTS, statement_rows, "block",
        sentences=False, lang=None, read=read,
    )
