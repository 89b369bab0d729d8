"""Seeded inputs of the graft benchmark.

Everything here is a pure function of the seed and the parameters given,
so the same seed always yields the same inputs. Generated trees are built
in a scratch directory and renamed into place once complete; an existing
tree is never rewritten, because the program keys its caches on file
path, mtime and size.
"""
import hashlib
import json
import os
import random
import shutil

# Content words survive the program's lowercase / alpha / lemma / stopword
# chain unchanged, so every message that has one is processed.
CONTENT = """
urgent transfer fund bank account verify payment wallet crypto bitcoin invest
profit return deposit withdraw refund invoice package delivery customs fee
prize lottery winner claim reward gift card voucher code password login
security alert suspend unlock confirm identity passport visa army soldier
deployment doctor hospital surgery emergency loan credit debt tax office
police court lawyer inheritance estate diamond gold oil contract partner
business company director manager agent officer secret private profile photo
video meeting dinner travel flight ticket hotel marriage darling honey sweet
heart trust promise future family daughter son mother father brother sister
phone number email address link website app download update install token
coin exchange trading platform broker market stock option signal bonus
""".split()
FILLER = "the and you is to of my your for with this that we please are was be".split()
TEMPLATES = [
    "urgent transfer fund bank account verify today",
    "claim prize lottery winner reward gift card now",
    "confirm identity password login security alert account suspend",
    "invest crypto bitcoin profit return trading platform bonus",
    "package delivery customs fee payment required today",
    "darling honey trust promise future marriage travel ticket",
    "army soldier deployment emergency hospital surgery money loan",
    "inheritance estate lawyer court contract gold diamond partner",
    "refund invoice payment withdraw deposit wallet address code",
    "download app update install link website security token",
    "broker market stock option signal exchange coin profit",
    "director manager agent officer business company private contract",
]
BOILERPLATE = ("This message contains files. If the description for a file does "
               "not make sense, ignore it.Here are descriptions of those files:")
# Shares of the detectors corpus. The reference's SCC data publishes no
# figures for them, so all but one are assumptions, chosen so that each
# loader filter and the dedup scorer have work; the message shapes follow
# the project's SCC fixture (FIXTURES.md). The one calibrated figure is the
# number of processed messages per file: about 5.7 (17,017 from 3,000
# files in an earlier probe of the program), which with the assumed shares
# below sets MESSAGES_PER_CONV, as 9.0 x 0.92 x 0.75 x 0.93 = 5.8.
TEMPLATE_SHARE = 0.40      # assumption: bodies drawn from TEMPLATES (dedup work)
BOILERPLATE_SHARE = 0.04   # assumption: bodies wrapped in the file boilerplate
OFF_PLATFORM_SHARE = 0.08  # assumption: conversations ending on Instagram/Telegram (F1)
INBOUND_SHARE = 0.75       # assumption: inbound messages (F2)
EMPTY_SHARE = 0.05         # assumption: empty bodies (F3)
NO_BODY_SHARE = 0.02       # assumption: messages without a body (F3)
NO_TIME_SHARE = 0.03       # assumption: messages without a time
MESSAGES_PER_CONV = (4, 14)  # uniform, mean 9: calibrated, see above
# The corpus is cut into splits, one RunDetectors.run each; file i goes to
# split i mod len(SPLITS).
SPLITS = ("convs0", "convs1", "convs2", "convs3")
NESTING = (6, 4)  # <split>/d<a>/e<b>/conv_<i>.json


def _body(rng):
    kind = rng.random()
    if kind < TEMPLATE_SHARE:
        words = rng.choice(TEMPLATES).split()
        if rng.random() < 0.5:
            words = words + rng.sample(CONTENT, rng.randint(1, 3))
    else:
        words = [rng.choice(CONTENT if rng.random() < 0.7 else FILLER)
                 for _ in range(rng.randint(4, 14))]
        words.append(rng.choice(CONTENT))
    text = " ".join(words)
    if rng.random() < 0.3:
        text = text.capitalize() + rng.choice([".", "!", "?", ""])
    if rng.random() < BOILERPLATE_SHARE:
        text = f"{BOILERPLATE}\nDescription for file {rng.randint(1, 9)}: {text}"
    return text


def _conversation(rng, t0):
    """One SCC conversation: some outbound, empty or body-less messages,
    some without a time, and now and then an Instagram/Telegram message
    that drops the whole conversation."""
    off_platform = rng.random() < OFF_PLATFORM_SHARE
    msgs, t = [], t0
    n = rng.randint(*MESSAGES_PER_CONV)
    for i in range(n):
        t += rng.randint(1, 900)
        m = {}
        r = rng.random()
        if r < EMPTY_SHARE:
            m["body"] = ""
        elif r >= EMPTY_SHARE + NO_BODY_SHARE:
            m["body"] = _body(rng)
        if rng.random() >= NO_TIME_SHARE:
            m["time"] = t
        m["medium"] = (rng.choice(["Instagram", "Telegram"])
                       if off_platform and i == n - 1 else "Email")
        m["is_inbound"] = rng.random() < INBOUND_SHARE
        msgs.append(m)
    return {"messages": msgs}


def detectors_corpus(root, seed, files):
    """Write (once) the SCC conversation-JSON corpus of one seed: `files`
    nested conversation files under <corpus>/<split>. Returns <corpus>, whose
    name carries the seed, the file count and a digest of this generator,
    so that changed parameters make a new corpus."""
    with open(__file__, "rb") as f:
        params = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(root, f"seed{seed}-f{files}-{params}")
    if os.path.exists(os.path.join(path, "_COMPLETE")):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    rng = random.Random(seed)
    for i in range(files):
        a, b = rng.randrange(NESTING[0]), rng.randrange(NESTING[1])
        d = os.path.join(tmp, SPLITS[i % len(SPLITS)], f"d{a}", f"e{b}")
        os.makedirs(d, exist_ok=True)
        conv = _conversation(rng, 1696118400 + rng.randrange(30 * 86400))
        with open(os.path.join(d, f"conv_{i:05d}.json"), "w") as f:
            json.dump(conv, f, indent=1)
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        f.write("")
    os.rename(tmp, path)
    return path


def pass_order(items, seed):
    """The seeded order in which a pass runs `items`, each once."""
    order = list(items)
    random.Random(seed).shuffle(order)
    return order
