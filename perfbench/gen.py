"""Seeded input generator for the ETL job.

``fitness(out, seed)`` writes a reference-layout data directory (the
layout ``graft.etl.Pipeline.fileInputs`` reads) at the reference's real
row counts, and returns the per-table row counts and quality score the
pipeline must produce from it. It is a pure function of the seed.
Cross-source duplicate profiles, unit-suffixed nutrition strings,
garbage values and out-of-range BMIs are planted so entity resolution
and normalization do real work.

The query cards and the index families read the project's own test
tables instead (``testdata/``), so they need no generator.

Run directly to generate one directory: ``python3 gen.py <out> <seed>``.
"""
import json
import os
import re
import sys
import zipfile
from datetime import date, timedelta
from xml.sax.saxutils import escape

import numpy as np

# Row counts of the reference's own extract (BASELINE.md).
HEARTRATE_ROWS = 1_154_681
SLEEP_ROWS = 198_559
HOURLY_ROWS = 24_084
DAILY_ROWS = 457
WEIGHT_ROWS = 33
GYM_ROWS = 973
MENDELEY_ROWS = 14_589
NUTRITION_ROWS = 8_789
FITBIT_USERS = 33
NUTRITION_LOGS = 200  # Pipeline.run's default synthetic log size
DIM_DATE_ROWS = 3653  # 2016-01-01 .. 2025-12-31

WORKOUT_TYPES = ["Yoga", "HIIT", "Cardio", "Strength"]
FITNESS_GOALS = ["Weight Gain", "Weight Loss"]
FITNESS_TYPES = ["Cardio Fitness", "Muscular Fitness"]
EXERCISES = ["Squats", "Deadlifts", "Bench Presses", "Overhead Presses",
             "Brisk Walking", "Cycling", "Swimming", "Running", "Dancing",
             "Yoga", "Walking Lunges", "Pull-ups", "Planks", "Burpees"]
DIETS = [
    "Vegetables: (Carrots, Sweet Potato, and Lettuce); Protein Intake: "
    "(Red meats, poultry, fish, eggs, dairy products, legumes, and nuts); "
    "Juice: (Fruit juice, watermelon juice, carrot juice, apple juice "
    "and mango juice)",
    "Vegetables: (Garlic, Mushroom, Green Papper, Icebetg Lettuce); "
    "Protein Intake: (Baru Nuts, Beech Nuts, Hemp Seeds, Cheese "
    "Sandwich); Juice: (Apple Juice, Mango juice,and Beetroot juice)",
    "Vegetables: (Mixed greens, cherry tomatoes, cucumbers, bell "
    "peppers, carrots, celery, bell peppers);Protein Intake: (Chicken, "
    "fish, tofu, legumes, and low-fat dairy products); Juice: (Apple "
    "juice, beetroot juice, and mango juice)",
    "Vegetables: (Tomatoes, Garlic, leafy greens, broccoli, carrots, "
    "and bell peppers); Protein Intake: (poultry, fish, tofu, legumes, "
    "and low-fat dairy products); Juice: (Watermelon juice, carrot "
    "juice, apple juice, and orange juice)",
]
GOAL_TAXONOMY = [  # graft.etl.Normalize.goalTaxonomy, first match wins
    ("lose_weight", ["lose", "weight loss", "fat loss", "cut"]),
    ("build_muscle", ["muscle", "strength", "hypertrophy", "build", "gain"]),
    ("endurance", ["endurance", "cardio", "running", "cycling", "marathon"]),
    ("maintain_health", ["maintain", "health", "wellness", "balance"]),
]

def classify_goal(text):
    low = (text or "").lower()
    for label, kws in GOAL_TAXONOMY:
        if any(k in low for k in kws):
            return label
    return "maintain_health"


def blob_tokens(blob):
    """Normalize.tokenizeBlob: lowercase, split on comma/newline/' and ',
    trim spaces, drop empties."""
    if blob is None:
        return set()
    return {t.strip(" ") for t in re.split(r"[,\n]| and ", blob.lower())
            if t.strip(" ")}


def us_date(d):
    return f"{d.month}/{d.day}/{d.year}"


def us_time_of_day(sec):
    h, rem = divmod(sec, 3600)
    m, s = divmod(rem, 60)
    h12 = h % 12 or 12
    return f"{h12}:{m:02d}:{s:02d} {'AM' if h < 12 else 'PM'}"


def spread(total, parts, rng):
    """`total` split into `parts` positive integers, seed-shuffled."""
    base = np.full(parts, total // parts, dtype=np.int64)
    base[: total % parts] += 1
    rng.shuffle(base)
    return base


# ---------------------------------------------------------------- xlsx

def _col_ref(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path, rows):
    """Minimal OOXML workbook, one sheet: str cells as inline strings,
    int/float cells as numbers, None cells omitted."""
    parts = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
             '<worksheet xmlns="http://schemas.openxmlformats.org/'
             'spreadsheetml/2006/main"><sheetData>']
    refs = [_col_ref(i) for i in range(max(len(r) for r in rows))]
    for n, row in enumerate(rows, 1):
        cells = []
        for i, v in enumerate(row):
            if v is None:
                continue
            if isinstance(v, str):
                cells.append(f'<c r="{refs[i]}{n}" t="inlineStr"><is><t>'
                             f'{escape(v)}</t></is></c>')
            else:
                cells.append(f'<c r="{refs[i]}{n}"><v>{v}</v></c>')
        parts.append(f'<row r="{n}">{"".join(cells)}</row>')
    parts.append("</sheetData></worksheet>")
    ct = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
          '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
          'content-types"><Default Extension="rels" ContentType="'
          'application/vnd.openxmlformats-package.relationships+xml"/>'
          '<Default Extension="xml" ContentType="application/xml"/>'
          '<Override PartName="/xl/workbook.xml" ContentType="application/'
          'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
          '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="'
          'application/vnd.openxmlformats-officedocument.spreadsheetml.'
          'worksheet+xml"/></Types>')
    rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
            '2006/relationships"><Relationship Id="rId1" Type="http://'
            'schemas.openxmlformats.org/officeDocument/2006/relationships/'
            'officeDocument" Target="xl/workbook.xml"/></Relationships>')
    wb = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
          '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/'
          '2006/main" xmlns:r="http://schemas.openxmlformats.org/'
          'officeDocument/2006/relationships"><sheets><sheet name="Sheet1" '
          'sheetId="1" r:id="rId1"/></sheets></workbook>')
    wb_rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
               '<Relationships xmlns="http://schemas.openxmlformats.org/'
               'package/2006/relationships"><Relationship Id="rId1" Type="'
               'http://schemas.openxmlformats.org/officeDocument/2006/'
               'relationships/worksheet" Target="worksheets/sheet1.xml"/>'
               '</Relationships>')
    with zipfile.ZipFile(path, "w") as z:
        for name, text in (("[Content_Types].xml", ct), ("_rels/.rels", rels),
                           ("xl/workbook.xml", wb),
                           ("xl/_rels/workbook.xml.rels", wb_rels),
                           ("xl/worksheets/sheet1.xml", "".join(parts))):
            # fixed entry times: the same seed gives the same bytes
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, text)


# ------------------------------------------------------------- fitness

def _profiles(rng, n):
    """n distinct physical profiles (age, gender, height_cm, weight_dg)."""
    seen = set()
    out = []
    while len(out) < n:
        p = (int(rng.integers(18, 80)), ["Male", "Female"][rng.integers(2)],
             int(rng.integers(150, 200)), int(rng.integers(450, 1300)))
        if p not in seen:
            seen.add(p)
            out.append(p)
    return out


def _hash(p):
    """EntityResolution.profileHash of a generated profile."""
    age, gender, h_cm, w_dg = p
    return f"{age}_{gender.lower()}_{h_cm / 100:.2f}_{w_dg / 10:.1f}"


def fitness(out, seed):
    """Write the reference-layout directory; return the expected output."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(os.path.join(out, "fitbit"), exist_ok=True)

    # -- profiles: mendeley with in-file duplicates, gym with in-file and
    #    cross-source (mendeley) duplicates
    n_mend_unique = MENDELEY_ROWS - 1_200
    n_gym_unique = GYM_ROWS - 150
    pool = _profiles(rng, n_mend_unique + n_gym_unique)
    mend_p = pool[:n_mend_unique]
    gym_only = pool[n_mend_unique:]
    mend_rows = mend_p + [mend_p[i] for i in
                          rng.integers(0, n_mend_unique, 1_200)]
    rng.shuffle(mend_rows)
    gym_rows = (gym_only
                + [mend_p[i] for i in rng.integers(0, n_mend_unique, 100)]
                + [gym_only[i] for i in
                   rng.integers(0, len(gym_only), 50)])
    rng.shuffle(gym_rows)

    # canonical survivor per profile hash: lowest (source priority,
    # original_id) — original ids compare as strings
    canonical = {}  # hash -> (source, goal_text, type_name, cond, ex, diet)
    mend_sheet = [["ID", "Sex", "Age", "Height", "Weight", "Hypertension",
                   "Diabetes", "BMI", "Level", "Fitness Goal",
                   "Fitness Type", "Exercises", "Equipment", "Diet",
                   "Recommendation"]]
    for i, p in enumerate(mend_rows, 1):
        age, gender, h_cm, w_dg = p
        hyp = ["Yes", "No"][rng.integers(2)]
        dia = ["Yes", "No"][rng.integers(2)]
        bmi = round((w_dg / 10) / (h_cm / 100) ** 2, 1)
        if rng.random() < 0.03:
            bmi = float(rng.choice([4.5, 75.2, 120.0]))  # out of range
        goal = FITNESS_GOALS[rng.integers(len(FITNESS_GOALS))]
        ftype = FITNESS_TYPES[rng.integers(len(FITNESS_TYPES))]
        k = int(rng.integers(2, 5))
        ex = list(rng.choice(EXERCISES, k, replace=False))
        ex_blob = ", ".join(ex[:-1]) + " and " + ex[-1]
        diet = DIETS[rng.integers(len(DIETS))]
        mend_sheet.append([i, gender, age, h_cm / 100, w_dg / 10, hyp, dia,
                           bmi, "Normal", goal, ftype, ex_blob, "Dumbbells",
                           diet, "Stay consistent and hydrate."])
        h, oid = _hash(p), f"mendeley_{i}"
        if h not in canonical or oid < canonical[h][6]:
            conds = ", ".join(c for c, f in (("hypertension", hyp),
                                             ("diabetes", dia))
                              if f == "Yes")
            canonical[h] = ("m", goal, ftype, conds, ex_blob, diet, oid)
    write_xlsx(os.path.join(out, "gym_recommendation.xlsx"), mend_sheet)

    # a gym profile keeps one workout type across its duplicate rows, so
    # the surviving row's type does not depend on the tie-break
    gym_type = {p: WORKOUT_TYPES[i % 4] for i, p in enumerate(gym_only)}
    with open(os.path.join(out, "gym_members_exercise_tracking.csv"),
              "w") as f:
        f.write("Age,Gender,Weight (kg),Height (m),Max_BPM,Avg_BPM,"
                "Resting_BPM,Session_Duration (hours),Calories_Burned,"
                "Workout_Type,Fat_Percentage,Water_Intake (liters),"
                "Workout_Frequency (days/week),Experience_Level,BMI\n")
        for p in gym_rows:
            age, gender, h_cm, w_dg = p
            wt = gym_type.get(p) or WORKOUT_TYPES[rng.integers(4)]
            bmi = round((w_dg / 10) / (h_cm / 100) ** 2, 2)
            f.write(f"{age},{gender},{w_dg / 10:.1f},{h_cm / 100:.2f},"
                    f"{rng.integers(160, 200)},{rng.integers(120, 160)},"
                    f"{rng.integers(50, 75)},{rng.integers(5, 20) / 10},"
                    f"{rng.integers(300, 1500)}.0,{wt},"
                    f"{rng.integers(100, 350) / 10},"
                    f"{rng.integers(15, 37) / 10},{rng.integers(2, 6)},"
                    f"{rng.integers(1, 4)},{bmi}\n")
            canonical.setdefault(_hash(p), ("g", wt, wt, "", None, None, ""))

    # -- fitbit: 33 ids over 2016-03-12 .. 2016-05-12
    ids = sorted({int(x) for x in rng.integers(1_000_000_000, 9_999_999_999,
                                               FITBIT_USERS * 2)})
    ids = [int(x) for x in rng.permutation(ids)[:FITBIT_USERS]]
    day0 = date(2016, 3, 12)
    days = [day0 + timedelta(d) for d in range(62)]
    tod5 = [us_time_of_day(s) for s in range(0, 86400, 5)]
    tod60 = [us_time_of_day(s) for s in range(0, 86400, 60)]

    # daily activity: 457 distinct (id, day); ~8% fully inactive
    fitbit_ids = set()
    pairs = rng.choice(len(ids) * len(days), DAILY_ROWS, replace=False)
    active_rows = 0
    with open(os.path.join(out, "fitbit/dailyActivity_merged.csv"),
              "w") as f:
        f.write("Id,ActivityDate,TotalSteps,TotalDistance,TrackerDistance,"
                "LoggedActivitiesDistance,VeryActiveDistance,"
                "ModeratelyActiveDistance,LightActiveDistance,"
                "SedentaryActiveDistance,VeryActiveMinutes,"
                "FairlyActiveMinutes,LightlyActiveMinutes,SedentaryMinutes,"
                "Calories\n")
        for pr in sorted(pairs):
            uid, d = ids[pr // len(days)], days[pr % len(days)]
            fitbit_ids.add(uid)
            inactive = rng.random() < 0.08
            very = 0 if inactive else int(rng.integers(0, 90))
            fair = 0 if inactive else int(rng.integers(1, 60))
            steps = int(rng.integers(0, 20_000))
            dist = round(steps / 1400, 2)
            active_rows += (very + fair) > 0
            f.write(f"{uid},{us_date(d)},{steps},{dist},{dist},0,"
                    f"{round(dist * 0.3, 2)},{round(dist * 0.1, 2)},"
                    f"{round(dist * 0.6, 2)},0,{very},{fair},"
                    f"{int(rng.integers(0, 300))},"
                    f"{int(rng.integers(600, 1440))},"
                    f"{int(rng.integers(1200, 3500))}\n")

    # heart rate: 5-second samples in per-(id, day) runs
    hr_users = ids[:14]
    fitbit_ids.update(hr_users)
    hr_pairs = [(u, d) for u in hr_users for d in days[:31]]
    lengths = spread(HEARTRATE_ROWS, len(hr_pairs), rng)
    with open(os.path.join(out, "fitbit/heartrate_seconds_merged.csv"),
              "w") as f:
        f.write("Id,Time,Value\n")
        for (uid, d), n in zip(hr_pairs, lengths):
            start = int(rng.integers(0, len(tod5) - n))
            vals = rng.integers(55, 150, n)
            pre = f"{uid},{us_date(d)} "
            f.write("".join(f"{pre}{tod5[start + j]},{vals[j]}\n"
                            for j in range(n)))

    # sleep: minute records in per-(id, night) runs
    sl_users = ids[:24]
    fitbit_ids.update(sl_users)
    sl_pairs = [(u, d) for u in sl_users for d in days[:31]]
    lengths = spread(SLEEP_ROWS, len(sl_pairs), rng)
    with open(os.path.join(out, "fitbit/minuteSleep_merged.csv"), "w") as f:
        f.write("Id,date,value,logId\n")
        for k, ((uid, d), n) in enumerate(zip(sl_pairs, lengths)):
            start = int(rng.integers(0, len(tod60) - n))
            vals = rng.integers(1, 4, n)
            pre = f"{uid},{us_date(d)} "
            log = 11_380_564_589 + k
            f.write("".join(f"{pre}{tod60[start + j]},{vals[j]},{log}\n"
                            for j in range(n)))

    # hourly calories: distinct (id, hour) slots
    hourly_slots = rng.choice(len(ids) * len(days) * 24, HOURLY_ROWS,
                              replace=False)
    with open(os.path.join(out, "fitbit/hourlyCalories_merged.csv"),
              "w") as f:
        f.write("Id,ActivityHour,Calories\n")
        cal = rng.integers(40, 400, HOURLY_ROWS)
        for j, sl in enumerate(np.sort(hourly_slots)):
            u, rest = divmod(int(sl), len(days) * 24)
            fitbit_ids.add(ids[u])
            d, hr = divmod(rest, 24)
            f.write(f"{ids[u]},{us_date(days[d])} "
                    f"{us_time_of_day(hr * 3600)},{cal[j]}\n")

    # weight log: distinct (id, day), some BMIs out of (10, 60), some Fat
    # missing
    w_pairs = rng.choice(len(ids) * len(days), WEIGHT_ROWS, replace=False)
    bmi_ok = 0
    with open(os.path.join(out, "fitbit/weightLogInfo_merged.csv"),
              "w") as f:
        f.write("Id,Date,WeightKg,WeightPounds,Fat,BMI,IsManualReport,"
                "LogId\n")
        for k, pr in enumerate(sorted(w_pairs)):
            uid, d = ids[pr // len(days)], days[pr % len(days)]
            fitbit_ids.add(uid)
            kg = round(float(rng.uniform(50, 130)), 1)
            bmi = round(float(rng.uniform(18, 40)), 2)
            if k % 8 == 3:
                bmi = [7.5, 199.0, 61.3, 10.0][k // 8 % 4]
            bmi_ok += 10 < bmi < 60
            fat = "" if k % 3 else str(int(rng.integers(15, 30)))
            f.write(f"{uid},{us_date(d)} 11:59:59 PM,{kg},"
                    f"{round(kg * 2.20462, 1)},{fat},{bmi},"
                    f"{'True' if k % 2 else 'False'},"
                    f"{1_462_233_599_000 + k}\n")

    # nutrition: leading unnamed index column, unit-suffixed strings,
    # garbage, duplicate and missing names
    names = [f"food item {i}" for i in range(NUTRITION_ROWS - 300)]
    food_rows = names + [names[i] for i in
                         rng.integers(0, len(names), 250)] + [None] * 50
    rng.shuffle(food_rows)
    nut = [[None, "name", "serving_size", "calories", "total_fat",
            "saturated_fat", "cholesterol", "sodium", "vitamin_a",
            "protein", "carbohydrate", "fiber", "sugars", "water"]]

    def unit(v, u):
        r = rng.random()
        if r < 0.05:
            return "garbage"
        if r < 0.35:
            return f"{v}"
        return f"{v} {u}" if r < 0.7 else f"{v}{u}"
    for i, name in enumerate(food_rows):
        nut.append([i, name, "100 g", int(rng.integers(0, 900)),
                    unit(round(float(rng.uniform(0, 40)), 1), "g"),
                    unit(round(float(rng.uniform(0, 15)), 1), "g"),
                    unit(round(float(rng.uniform(0, 300)), 1), "mg"),
                    unit(round(float(rng.uniform(0, 900)), 2), "mg"),
                    unit(round(float(rng.uniform(0, 500)), 2), "IU"),
                    unit(round(float(rng.uniform(0, 40)), 2), "g"),
                    unit(round(float(rng.uniform(0, 80)), 2), "g"),
                    unit(round(float(rng.uniform(0, 12)), 1), "g"),
                    unit(round(float(rng.uniform(0, 30)), 2), "g"),
                    unit(round(float(rng.uniform(0, 95)), 2), "g")])
    write_xlsx(os.path.join(out, "nutrition.xlsx"), nut)

    # -- expected warehouse
    users = list(canonical.items())
    n_users = len(users) + len(fitbit_ids)
    goals = {classify_goal(v[1]) for _, v in users}
    goals.add("maintain_health")  # fitbit profiles carry no goal text
    workout_types = {v[2] for _, v in users if v[0] == "g"}
    mend_types = {v[2] for _, v in users if v[0] == "m"}
    conds = [blob_tokens(v[3]) for _, v in users]
    exes = [blob_tokens(v[4]) for _, v in users]
    diets = [blob_tokens(v[5]) for _, v in users]
    counts = {
        "dim_date": DIM_DATE_ROWS,
        "dim_user": n_users,
        "dim_fitnessgoal": len(goals),
        "dim_fitnesstype": len(mend_types | workout_types),
        "dim_healthcondition": len(set().union(*conds)),
        "dim_exercise": len(set().union(*exes)),
        "dim_diet": len(set().union(*diets)),
        "dim_fooditem": len({n for n in food_rows if n is not None}),
        "dim_metrictype": 4,
        "dim_mealtype": 4,
        "dim_workouttype": len(workout_types),
        "bridge_user_healthcondition": sum(map(len, conds)),
        "bridge_user_workoutpreference": sum(map(len, exes)),
        "bridge_user_dietpreference": sum(map(len, diets)),
        "fact_usersnapshot": n_users,
        "fact_workoutsession": int(active_rows),
        "fact_healthmetric": len(hr_pairs) + len(sl_pairs) + WEIGHT_ROWS
        + int(bmi_ok),
        "fact_nutritionlog": NUTRITION_LOGS,
        "fact_hourlyactivity": HOURLY_ROWS,
    }
    expected = {"tables": counts, "quality_score": 100.0}
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


if __name__ == "__main__":
    print(json.dumps(fitness(sys.argv[1], int(sys.argv[2]))))
