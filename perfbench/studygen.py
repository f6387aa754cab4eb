"""Seeded EDC study generator for the clinical_study workload.

Writes a Viedoc-style export: one CSV per domain (DM, AE and a large LB)
with a UTF-8 BOM and two header rows (labels, then names), an Items.csv
and a CodeLists.csv, paired `X`/`XCD` codelist columns, extra columns that
go to SUPP-- datasets, and a planted number of partial dates and values
outside controlled terminology. `manifest.json` records the row count per
domain and every planted count, so the pipeline's results can be checked
without an oracle. The same (seed, subjects) always gives byte-identical
files.

    python3 studygen.py <out_dir> <subjects> <seed>
"""
import json
import os
import sys

import numpy as np

AE_PER_SUBJECT = 10
LB_PER_SUBJECT = 40
PARTIAL_DATE_SHARE = 0.02
BAD_CT_SHARE = 0.02
ORPHAN_SHARE = 0.005

PREFIX = [("SiteSeq", "Site sequence number"),
          ("SiteCode", "Site code"),
          ("EventId", "Event identifier"),
          ("FormSeq", "Form sequence number")]
SEX = [("M", "1", "Male"), ("F", "2", "Female")]
RACE = [("WHITE", "1"), ("ASIAN", "2"), ("BLACK OR AFRICAN AMERICAN", "3")]
ETHNIC = [("HISPANIC OR LATINO", "1"), ("NOT HISPANIC OR LATINO", "2")]
SEVERITY = [("MILD", "1"), ("MODERATE", "2"), ("SEVERE", "3")]
YES_NO = [("Y", "1"), ("N", "2")]
AE_TERMS = ["Headache", "Nausea", "Fatigue", "Dizziness", "Rash", "Cough",
            "Back pain", "Insomnia", "Pyrexia", "Arthralgia"]
LB_TESTS = ["ALT", "AST", "GLUC", "HGB", "WBC", "PLAT", "CREAT", "SODIUM",
            "K", "CHOL"]

# Supplemental-qualifier routing: domain -> [(source column, QNAM, QLABEL)].
SUPP = {"DM": [("ICYN", "ICYN", "Informed consent obtained")],
        "AE": [("AEDESC", "AEDESC", "Event description")]}
# Remap toggles: domain -> (variable, [two source columns with equal values]).
REMAP = {"DM": ("AGE", ["AGE", "AGEYRS"]),
         "AE": ("AETERM", ["AETERM", "AEVERB"]),
         "LB": ("LBORRES", ["LBORRES", "LBORRESV"])}
# The variables whose planted values the validator must flag, per check.
PLANTED = {"partial_dates": {"AE": "AESTDTC", "LB": "LBDTC"},
           "ct_violations": {"DM": "SEX", "AE": "AESEV"}}


def _iso(day0, offsets):
    return [str(np.datetime64(day0) + int(o)) for o in offsets]


def _plant(rng, values, share, make):
    """Replace a seeded `share` of `values` with make(value); return count."""
    hit = np.flatnonzero(rng.random(len(values)) < share)
    for i in hit:
        values[i] = make(values[i])
    return len(hit)


def _csv(path, columns, labels, rows):
    def line(fields):
        return ",".join('"' + str(f).replace('"', '""') + '"' for f in fields)
    with open(path, "w", encoding="utf-8-sig", newline="") as f:
        f.write(line(labels) + "\n" + line(columns) + "\n")
        for r in rows:
            f.write(line(r) + "\n")


def _prefix(rng, n, site_of):
    return [[s + 1, f"S{s + 1:03d}", "V1", int(k)]
            for s, k in zip(site_of, rng.integers(1, 9, n))]


def generate(out_dir, subjects, seed):
    """Write the study into out_dir and return its manifest dict."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 104729])
    n = subjects
    subj = [f"{1000 + i}" for i in range(n)]
    site = rng.integers(0, 10, n)
    planted = {"partial_dates": {}, "ct_violations": {}}
    items = []  # (id, label, type, mandatory, format)

    # ---- DM: one row per subject
    sex = rng.integers(0, 2, n)
    sex_text = [SEX[k][0] for k in sex]
    sex_code = [SEX[k][1] for k in sex]
    planted["ct_violations"]["DM"] = _plant(rng, sex_text, BAD_CT_SHARE,
                                            lambda _: "X")
    race = rng.integers(0, len(RACE), n)
    eth = rng.integers(0, len(ETHNIC), n)
    age = rng.integers(18, 86, n)
    rfst = _iso("2023-01-01", rng.integers(0, 365, n))
    brth = _iso("1940-01-01", rng.integers(0, 25000, n))
    dm_cols = ["SUBJID", "RFSTDTC", "BRTHDTC", "AGE", "AGEYRS", "AGEU",
               "SEX", "SEXCD", "RACE", "RACECD", "ETHNIC", "ETHNICCD",
               "COUNTRY", "SITEID", "ICYN"]
    dm_labels = ["Subject identifier", "Reference start date", "Date of birth",
                 "Age", "Age in years", "Age units", "Sex", "Sex code", "Race",
                 "Race code", "Ethnicity", "Ethnicity code", "Country",
                 "Site identifier", "Informed consent obtained"]
    dm_rows = [[subj[i], rfst[i], brth[i], int(age[i]), int(age[i]), "YEARS",
                sex_text[i], sex_code[i], RACE[race[i]][0], RACE[race[i]][1],
                ETHNIC[eth[i]][0], ETHNIC[eth[i]][1], "USA",
                f"S{site[i] + 1:03d}", "Y"] for i in range(n)]

    # ---- AE: AE_PER_SUBJECT rows per subject on average
    n_ae = n * AE_PER_SUBJECT
    ae_subj = rng.integers(0, n, n_ae)
    ae_start = _iso("2023-02-01", rng.integers(0, 400, n_ae))
    planted["partial_dates"]["AE"] = _plant(rng, ae_start, PARTIAL_DATE_SHARE,
                                            lambda d: d[:8] + "NK")
    sev = [SEVERITY[k][0] for k in rng.integers(0, 3, n_ae)]
    planted["ct_violations"]["AE"] = _plant(rng, sev, BAD_CT_SHARE,
                                            lambda _: "EXTREME")
    sev_code = [dict(SEVERITY).get(s, "9") for s in sev]
    ser = rng.integers(0, 2, n_ae)
    terms = rng.choice(AE_TERMS, n_ae)
    ae_cols = ["SUBJID", "AETERM", "AEVERB", "AESEV", "AESEVCD", "AESER",
               "AESERCD", "AESTDTC", "AEDESC"]
    ae_labels = ["Subject identifier", "Reported term", "Verbatim term",
                 "Severity", "Severity code", "Serious event",
                 "Serious event code", "Start date", "Event description"]
    ae_ids = [subj[k] for k in ae_subj]
    planted["orphan_subjects"] = {"AE": _plant(rng, ae_ids, ORPHAN_SHARE,
                                               lambda _: "9999")}
    ae_rows = [[ae_ids[i], terms[i], terms[i], sev[i], sev_code[i],
                YES_NO[ser[i]][0], YES_NO[ser[i]][1], ae_start[i],
                f"{terms[i]} reported at visit"] for i in range(n_ae)]

    # ---- LB: the large findings domain
    n_lb = n * LB_PER_SUBJECT
    lb_subj = rng.integers(0, n, n_lb)
    lb_dtc = _iso("2023-01-15", rng.integers(0, 420, n_lb))
    planted["partial_dates"]["LB"] = _plant(rng, lb_dtc, PARTIAL_DATE_SHARE,
                                            lambda d: d[:8] + "NK")
    tests = rng.choice(LB_TESTS, n_lb)
    res = np.round(rng.uniform(1, 200, n_lb), 1)
    lb_cols = ["SUBJID", "LBTESTCD", "LBORRES", "LBORRESV", "LBDTC"]
    lb_labels = ["Subject identifier", "Lab test code", "Result",
                 "Result as collected", "Collection date"]
    lb_rows = [[subj[lb_subj[i]], tests[i], f"{res[i]}", f"{res[i]}",
                lb_dtc[i]] for i in range(n_lb)]

    files = {}
    for code, cols, labels, rows in [("DM", dm_cols, dm_labels, dm_rows),
                                     ("AE", ae_cols, ae_labels, ae_rows),
                                     ("LB", lb_cols, lb_labels, lb_rows)]:
        site_of = site if code == "DM" else rng.integers(0, 10, len(rows))
        name = f"STUDY_{code}.csv"
        _csv(os.path.join(out_dir, name),
             [c for c, _ in PREFIX] + cols, [l for _, l in PREFIX] + labels,
             [p + r for p, r in zip(_prefix(rng, len(rows), site_of), rows)])
        files[code] = name
        for c, l in zip(cols, labels):
            fmt = c[:-2] if c.endswith("CD") else ""
            items.append((c, l, "integer" if c in ("AGE", "AGEYRS") else "text",
                          "True" if c == "SUBJID" else "False", fmt))

    _csv(os.path.join(out_dir, "Items.csv"),
         ["ID", "Label", "DataType", "Mandatory", "FormatName"],
         ["ID", "Label", "Data Type", "Mandatory", "Format Name"],
         sorted(set(items)))
    codelists = ([("SEX", "text", c, t) for _, c, t in SEX]
                 + [("RACE", "text", c, t) for t, c in RACE]
                 + [("ETHNIC", "text", c, t) for t, c in ETHNIC]
                 + [("AESEV", "text", c, t) for t, c in SEVERITY]
                 + [("AESER", "text", c, t) for t, c in YES_NO])
    _csv(os.path.join(out_dir, "CodeLists.csv"),
         ["FormatName", "DataType", "CodeValue", "CodeText"],
         ["Format Name", "Data Type", "Code Value", "Code Text"], codelists)

    manifest = {
        "seed": seed, "subjects": subjects, "files": files,
        "rows": {"DM": n, "AE": n_ae, "LB": n_lb},
        "supp": {d: [[c, q, l] for c, q, l in cfg] for d, cfg in SUPP.items()},
        "remap": {d: [v, cols] for d, (v, cols) in REMAP.items()},
        "planted_variables": PLANTED,
        "planted": planted,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
