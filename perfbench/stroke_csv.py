"""Seeded stroke-schema CSV for the ml_pipeline workload.

The shape follows the reference's healthcare-dataset-stroke-data.csv
(FIXTURES.md, section A1): 5,110 rows, the same 12 columns in the same
order (the `Residence_type` header included), exactly the reference's
category counts, 201 literal "N/A" values in `bmi`, and 250 positives
(4.9%). The label carries a planted signal: positives are drawn without
replacement with weights that grow with age, hypertension, heart disease
and glucose, so a logistic regression separates them well.
"""
import math
import random

ROWS = 5110
POSITIVES = 250
BMI_NA = 201
HEADER = ["id", "gender", "age", "hypertension", "heart_disease",
          "ever_married", "work_type", "Residence_type",
          "avg_glucose_level", "bmi", "smoking_status", "stroke"]
# Category counts of the reference file; every category must appear, or
# the one-hot features are not 21 wide.
CATEGORIES = {
    "gender": {"Female": 2994, "Male": 2115, "Other": 1},
    "ever_married": {"Yes": 3353, "No": 1757},
    "work_type": {"Private": 2925, "Self-employed": 819, "children": 687,
                  "Govt_job": 657, "Never_worked": 22},
    "Residence_type": {"Urban": 2596, "Rural": 2514},
    "smoking_status": {"never smoked": 1892, "Unknown": 1544,
                       "formerly smoked": 885, "smokes": 789},
}


def shuffled(rng, counts):
    values = [v for v, n in counts.items() for _ in range(n)]
    rng.shuffle(values)
    return values


def rows(seed):
    """The CSV's data rows for `seed`, as lists of strings."""
    rng = random.Random(seed)
    cats = {c: shuffled(rng, counts) for c, counts in CATEGORIES.items()}
    na_rows = set(rng.sample(range(ROWS), BMI_NA))
    ids = rng.sample(range(1, 73000), ROWS)
    out, weights = [], []
    for i in range(ROWS):
        age = rng.uniform(0.08, 82.0)
        age = round(age, 2) if age < 2 else float(round(age))
        hyper = int(rng.random() < 0.02 + 0.17 * age / 82)
        heart = int(rng.random() < 0.005 + 0.1 * (age / 82) ** 2)
        glucose = round(min(271.74, 55.12 + rng.lognormvariate(3.6, 0.55)), 2)
        bmi = "N/A" if i in na_rows else \
            f"{min(97.6, max(10.3, rng.gauss(28.9, 7.8))):.1f}"
        out.append([str(ids[i]), cats["gender"][i], f"{age:g}", str(hyper),
                    str(heart), cats["ever_married"][i], cats["work_type"][i],
                    cats["Residence_type"][i], f"{glucose:.2f}", bmi,
                    cats["smoking_status"][i]])
        weights.append(math.exp(0.075 * age + 0.8 * hyper + 0.8 * heart +
                                0.008 * (glucose - 100)))
    # Efraimidis-Spirakis: weighted draw of POSITIVES rows without
    # replacement.
    keys = sorted(range(ROWS), key=lambda i: -rng.random() ** (1 / weights[i]))
    positive = set(keys[:POSITIVES])
    for i, r in enumerate(out):
        r.append("1" if i in positive else "0")
    return out


def write(path, seed):
    with open(path, "w") as f:
        f.write(",".join(HEADER) + "\n")
        for r in rows(seed):
            f.write(",".join(r) + "\n")
