"""Seeded generator of SeroNet-shaped CSV submissions with planted errors.

Each submission is a directory of CSV sheets covering four of the six rule
families of `graft.dispatch.SheetCatalog`:

  prior clinical   prior_clinical_test.csv
  demographic      demographic.csv
  biospecimen      biospecimen.csv
  processing       aliquot.csv

plus `submission.csv`, whose declared participant and biospecimen counts
match the data. IDs are consistent across sheets: every participant has one
prior-clinical, demographic and biospecimen row, and every biospecimen one
aliquot. Clean cells satisfy every rule, so a clean row reports nothing.

Planted errors, per_kind = max(1, n // 100) of each, each at a distinct
(sheet, Row_Index, Column_Name) under a column name no other planted kind
uses (the validator's final dedup keys on Row_Index, Column_Name and
Column_Value across sheets):

  range       demographic Age above 200
  enum        demographic Gender not in its list
  ID / CBC    aliquot Aliquot_ID with a wrong CBC code, or a bad format
  date        prior Date_of_SARS_CoV_2_PCR_sample_collection not a date;
              biospecimen Collection_Tube_Type_Expiration_Date before the
              as-of date (reported as a Warning)
  duplicate   aliquot Aliquot_ID repeated (reported at Row_Index -3)

The manifest lists every planted (sheet, Row_Index, Column_Name). The
validator sees only the CSV files.
"""
import csv
import json
import os
import random

CBC = 14
AS_OF = "2025-06-30"  # the validation date the benchmark passes to the app
ICD_CODES = ["E119", "I10", "J45909", "E6601", "K219", "M545", "F419", "N390", "N/A"]
BIO_TYPES = ["Serum", "EDTA Plasma", "PBMC", "Saliva", "Nasal swab"]


def _date(r, y0, y1):
    return f"{r.randint(1, 12)}/{r.randint(1, 28)}/{r.randint(y0, y1)}"


def build(seed, n):
    """Returns ({sheet: (header, rows)}, manifest) for one submission of n
    participants, n biospecimens and n aliquots."""
    r = random.Random(seed)
    pids = [f"{CBC}_{i:06d}" for i in range(1, n + 1)]
    sars = [r.choice(["Positive", "Negative"]) for _ in pids]

    prior = (["Research_Participant_ID", "SARS_CoV_2_PCR_Test_Result",
              "Date_of_SARS_CoV_2_PCR_sample_collection"],
             [[p, s, _date(r, 2020, 2024)] for p, s in zip(pids, sars)])
    demo = (["Research_Participant_ID", "Age", "Gender", "Other_Comorbidity"],
            [[p, str(r.randint(18, 90)),
              r.choice(["Male", "Female", "Other", "Not Reported", "Unknown"]),
              r.choice(ICD_CODES)] for p in pids])
    bids = [f"{p}_001" for p in pids]
    bio = (["Research_Participant_ID", "Biospecimen_ID", "Biospecimen_Type",
            "Collection_Tube_Type_Expiration_Date"],
           [[p, b, r.choice(BIO_TYPES), _date(r, 2026, 2030)] for p, b in zip(pids, bids)])
    aliquot = (["Aliquot_ID", "Biospecimen_ID"], [[f"{b}_01", b] for b in bids])

    submission = (["submission", "cbc_bench"],
                  [["submitter", "bench"], ["participants", str(n)],
                   ["biospecimens", str(n)]])
    sheets = {"submission.csv": submission, "prior_clinical_test.csv": prior,
              "demographic.csv": demo, "biospecimen.csv": bio, "aliquot.csv": aliquot}

    manifest = set()
    per_kind = max(1, n // 100)

    def plant(sheet, column, value_fn):
        header, rows = sheets[sheet]
        c = header.index(column)
        for i in r.sample(range(len(rows)), min(per_kind, len(rows))):
            rows[i][c] = value_fn(rows[i][c])
            manifest.add((sheet, i + 2, column))

    plant("demographic.csv", "Age", lambda v: str(r.randint(201, 999)))
    plant("demographic.csv", "Gender", lambda v: "Robot")
    plant("prior_clinical_test.csv", "Date_of_SARS_CoV_2_PCR_sample_collection",
          lambda v: f"2/{r.randint(30, 31)}/{r.randint(2020, 2024)}")
    plant("biospecimen.csv", "Collection_Tube_Type_Expiration_Date",
          lambda v: _date(r, 2010, 2019))
    # aliquot IDs: one disjoint row pool per kind, so no row is planted twice
    _, arows = aliquot
    pool = r.sample(range(len(arows)), min(len(arows), 4 * per_kind))
    k = len(pool) // 4
    for i in pool[:k]:
        arows[i][0] = "99" + arows[i][0][2:]                  # wrong CBC code
        manifest.add(("aliquot.csv", i + 2, "Aliquot_ID"))
    for i in pool[k:2 * k]:
        arows[i][0] = arows[i][0][:-1]                        # bad format
        manifest.add(("aliquot.csv", i + 2, "Aliquot_ID"))
    for src, dst in zip(pool[2 * k:3 * k], pool[3 * k:4 * k]):
        arows[dst][0] = arows[src][0]                         # duplicate ID
        manifest.add(("aliquot.csv", -3, "Aliquot_ID"))
    return sheets, manifest


def write_submission(sub_dir, sheets):
    os.makedirs(sub_dir, exist_ok=True)
    for name, (header, rows) in sheets.items():
        with open(os.path.join(sub_dir, name), "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(header)
            w.writerows(rows)


def generate(out_dir, seed, n_rows, n_subs):
    """Writes n_subs submissions under out_dir/sub_<i>/ and one manifest
    per submission to out_dir/manifest.json ({submission: [[sheet, row, col]]})."""
    manifests = {}
    total_rows = 0
    for s in range(n_subs):
        name = f"sub_{s:03d}"
        sheets, manifest = build(seed * 1000 + s, n_rows)
        write_submission(os.path.join(out_dir, name), sheets)
        manifests[name] = sorted(manifest)
        total_rows += sum(len(rows) for n, (_, rows) in sheets.items()
                          if n != "submission.csv")
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifests, f)
    return manifests, total_rows
