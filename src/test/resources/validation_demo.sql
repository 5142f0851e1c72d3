-- Data-quality corpus for the warehouse that Pipeline builds from
-- Pipeline.demoInputs. It drives every construct the ValidationCorpus
-- dialect shim translates, and its expected outcome is derived by hand
-- from the demo inputs (see ValidationCorpusSpec).

-- session variables, substituted as literals
SET @AGE_LOW = 13;
SET @AGE_HIGH = 100;
SET @HOURLY_CAP = 100;

-- inventory through information_schema.tables
SELECT table_name, table_rows
FROM information_schema.tables
WHERE table_schema = DATABASE()
ORDER BY table_name;

-- every warehouse table is present (aliased schema predicate)
SELECT 'INVENTORY: missing tables' AS check_name,
       19 - COUNT(*) AS violations
FROM information_schema.tables t
WHERE t.table_schema = DATABASE() AND t.table_rows >= 0;

-- index introspection through information_schema.statistics, with a
-- DISTINCT ordered GROUP_CONCAT
SELECT table_name,
       GROUP_CONCAT(DISTINCT column_name ORDER BY column_name) AS index_columns
FROM information_schema.statistics
WHERE table_schema = DATABASE()
GROUP BY table_name;

-- an ordered (non-DISTINCT) GROUP_CONCAT, checked by value
SELECT 'RULE meal order' AS check_name,
       CASE WHEN meals = 'breakfast,lunch,dinner,snack' THEN 0 ELSE 1 END
         AS violations
FROM (SELECT GROUP_CONCAT(MealName ORDER BY MealTypeKey) AS meals
      FROM dim_mealtype) m;

-- primary keys
SELECT 'PK CHECK: dim_user' AS check_name,
       COUNT(*) - COUNT(DISTINCT UserKey) AS duplicate_pk
FROM dim_user;

SELECT 'PK CHECK: dim_date' AS check_name,
       COUNT(*) - COUNT(DISTINCT DateKey) AS duplicate_pk
FROM dim_date;

-- NULL rule
SELECT 'NULL VIOL: fact_usersnapshot.GoalKey' AS check_name,
       COUNT(*) - COUNT(GoalKey) AS violations
FROM fact_usersnapshot;

-- the aliased ORPHANS check: scored as a hard issue
SELECT 'ORPHANS: Fact_UserSnapshot' AS check_name,
       COUNT(*) AS orphan_count
FROM fact_usersnapshot f
LEFT JOIN dim_user u ON f.UserKey = u.UserKey
WHERE u.UserKey IS NULL;

-- the same check with no aliased columns: invisible to scoring
SELECT COUNT(*)
FROM fact_workoutsession s
LEFT JOIN dim_user u ON s.UserKey = u.UserKey
WHERE u.UserKey IS NULL;

-- ranges bound by the session variables
SELECT 'RANGE dim_user.Age' AS rule,
       COUNT(*) AS violation_count
FROM dim_user
WHERE Age < @AGE_LOW OR Age > @AGE_HIGH;

-- fires on the demo data: one user-hour burns 120 calories
SELECT 'RANGE fact_hourlyactivity.Calories' AS rule,
       COUNT(*) AS violation_count
FROM fact_hourlyactivity
WHERE Calories > @HOURLY_CAP;

-- a bare CREATE TABLE, filled with the FK checks
CREATE TABLE validation_violations (rule STRING, violation_count BIGINT);

INSERT INTO validation_violations
SELECT 'FK orphan: WorkoutSession->User', COUNT(*)
FROM fact_workoutsession s
LEFT JOIN dim_user u ON s.UserKey = u.UserKey
WHERE u.UserKey IS NULL;

INSERT INTO validation_violations
SELECT 'FK orphan: NutritionLog->Date', COUNT(*)
FROM fact_nutritionlog n
LEFT JOIN dim_date d ON n.DateKey = d.DateKey
WHERE d.DateKey IS NULL;

-- the summary: its lower-case 'FK orphan' rows do not match the hard
-- class, so a violation here scores as a warning
SELECT rule, violation_count
FROM validation_violations
ORDER BY rule;
