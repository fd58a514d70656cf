"""Each workload's generated inputs.

A pure function of the workload, the seed and the run length, so the same
seed gives the same inputs. The seed permutes the order of work, never its
amount: the drain plan's phase order and the gate order.
"""
import random

# The gates workload: the three shingle/hash dedup gates, a regex gate, a
# join gate and a landing gate (atomic delta landing, compaction into a
# resharded base). The rest of the registry is left out so that a run fits
# the benchmark's time budget; q_reflog_* could not run anyway, as they read
# the reference checkout's run logs, which are not part of this repository.
GATES = ["q_ngram_jaccard", "q_simhash_pairs", "q_minhash_pairs", "q_regex_extract",
         "q_join_fact", "q_reshard"]
# Gates run more than once in a row in each loop. q_regex_extract takes about
# 0.3 s, a fifth of the next shortest gate, and its single runs spread the
# most (0.2-0.6 s), which the geometric mean weighs as much as any other
# gate's; three runs a loop give its fastest run six chances.
GATE_REPS = {"q_regex_extract": 3}


def _fixed(value, rate, duration):
    return f"{{ type = fixed, value = {value}, rate = {rate}, duration = {duration} }}"


def plan_text(phases):
    return "sequence = [ " + ", ".join(_fixed(*p) for p in phases) + " ]"


def plan_rows(phases):
    return sum(rate * duration for _, rate, duration in phases)


# ingest_drain: value 12 backlog, 4 plan seconds per trigger. The phases
# are a fixed multiset whose durations are multiples of the trigger step,
# so every seed gives the same batches in another order.
DRAIN_VALUE = 12
DRAIN_STEP = 4
DRAIN_RATES = (15000, 20000, 25000, 30000)
DRAIN_NOMINAL_ROWS_PER_S = 110000


def probe_inputs():
    """Inputs of the traced run's layer probes: every other drain phase, one
    trigger each, and a one-trigger warm-up."""
    probe = [(DRAIN_VALUE, rate, DRAIN_STEP) for rate in DRAIN_RATES[::2]]
    warm = [(DRAIN_VALUE, DRAIN_RATES[0], DRAIN_STEP)]
    return {"seconds_per_trigger": DRAIN_STEP, "warm_plan": plan_text(warm),
            "warm_rows": plan_rows(warm), "probe_plan": plan_text(probe),
            "probe_rows": plan_rows(probe)}


def workload_inputs(workload, seed, seconds):
    """Key/value parameters the JVM side reads for `workload`."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "ingest_drain":
        per_phase = DRAIN_NOMINAL_ROWS_PER_S * seconds / len(DRAIN_RATES)
        phases = [(DRAIN_VALUE, rate, max(DRAIN_STEP, DRAIN_STEP * round(per_phase / rate / DRAIN_STEP)))
                  for rate in DRAIN_RATES]
        rng.shuffle(phases)
        warm = [(DRAIN_VALUE, 20000, DRAIN_STEP * 2)]
        return {
            "seconds_per_trigger": DRAIN_STEP,
            "phases": phases,
            "plan": plan_text(phases), "rows": plan_rows(phases),
            "warm_plan": plan_text(warm), "warm_rows": plan_rows(warm),
        }
    gates = list(GATES)
    rng.shuffle(gates)
    return {"gates": ",".join(gates), "reps": ",".join(f"{g}:{n}" for g, n in GATE_REPS.items())}
