"""Golden digests of the fit: model JSON plus every ``_train_rows`` array.

``test_fit_concurrent`` compares the fit with a serial walk over the same
``_ColumnFit``, so a change inside the split recursion passes it.  This
test pins what the recursion produces: for each table of
``test_fit_concurrent.TABLES`` and each config below, the sha256 of
``model_to_json`` followed by the name, dtype and bytes of every
``_train_rows`` array.  A refactor of ``operators/fit.py`` must keep
every digest.  ``_small_node_table`` adds what those tables lack:
categorical targets that split under the default ``gain_as_pct``.

The digests are host-specific: the fit accumulates in NumPy
``longdouble``, whose width differs between platforms (80-bit x87 on
x86-64 Linux, 64-bit on others), so the last bits of a cluster bound can
change with the host.  They were recorded on x86-64 Linux; on another
host the test skips.  To re-record after an intended change of the model,
run ``python -m tests.test_fit_golden`` and paste its output into
``GOLDEN`` (and ``SMALL_NODE_GOLDEN``).
"""

import hashlib
import platform

import numpy as np
import pytest

from outliertree_spark.config import ValidationConfig
from outliertree_spark.model import model_to_json
from outliertree_spark.operators.fit import FitColumn, fit_arrays

from .test_fit_concurrent import CONFIGS, TABLES


def _config_id(c):
    return (f"{c.categ_split}-{c.categ_outliers}-{c.numeric_split}"
            f"-d{c.max_depth}-follow{int(c.follow_all)}"
            f"-pct{int(c.gain_as_pct)}-min{c.min_size_numeric}")


# without gain_as_pct categorical and ordinal targets get trees: at depth 4
# their nodes split, with follow_all at depth 2 every qualifying branch
# opens a subtree
PCT0 = [
    ValidationConfig(categ_split=split, categ_outliers=outliers,
                     follow_all=follow, max_depth=depth, gain_as_pct=False,
                     min_size_numeric=15, min_size_categ=20)
    for follow, depth in ((False, 4), (True, 2))
    for split in ("binarize", "bruteforce", "separate")
    for outliers in ("tail", "majority")
]
GOLDEN_CONFIGS = list({_config_id(c): c for c in CONFIGS + PCT0}.values())


def _small_node_table():
    """80 rows, so every categorical target's root node has at most 100.
    Under ``gain_as_pct`` a categorical target's gain over
    ``base_info_orig`` is at most 1/n on n rows, so with the default
    ``min_gain`` of 0.01 only such a small node can split.  ``v`` and
    ``o`` determine ``x``; ``x`` determines ``y`` but for one row.  The
    splits reach ``gain / base_info_orig * n`` of 1 and 0.92, so a skip
    on ``n * min_gain > c`` with any ``c < 0.8`` in place of 1 (say 0.5)
    loses them."""
    rng = np.random.RandomState(7)
    n = 80
    x = np.repeat([0, 1], n // 2)
    rng.shuffle(x)
    v = 10.0 * x + rng.normal(0, 1, n)
    o = np.where(x == 0, rng.randint(0, 2, n), 2)
    y = x.copy()
    y[np.flatnonzero(x == 0)[0]] = 1
    return [
        FitColumn("v", "numeric", v),
        FitColumn("x", "categorical", x.astype(np.int64), levels=["p", "q"]),
        FitColumn("y", "categorical", y.astype(np.int64), levels=["a", "b"]),
        FitColumn("o", "ordinal", o.astype(np.int64),
                  levels=["lo", "mid", "hi"]),
    ]


# majority mode keeps a branch cluster whose target level is unseen there,
# so each categorical target's split shows in the model
SMALL_NODE_CONFIGS = [
    ValidationConfig(categ_split=split, categ_outliers="majority",
                     follow_all=follow, max_depth=depth,
                     min_size_numeric=10, min_size_categ=10)
    for follow, depth in ((False, 4), (True, 3))
    for split in ("binarize", "bruteforce", "separate")
]


def _digest(model):
    h = hashlib.sha256(model_to_json(model).encode())
    for name, a in model["_train_rows"].items():
        h.update(name.encode())
        h.update(a.dtype.str.encode())
        h.update(a.tobytes())
    return h.hexdigest()


def _digests(cfg):
    return [_digest(fit_arrays(make(), cfg)) for make in TABLES]


_HOST = platform.system() == "Linux" and platform.machine() == "x86_64" \
    and np.finfo(np.longdouble).nmant == 63

GOLDEN = {
    'binarize-tail-raw-d4-follow0-pct1-min25': [
        'd94cb84954c2d275c17346569a52315def30bd1adbe42ed84a04e7d0e8a80d07',
        '4d8d048b93f14d61e8842c1cb27989e5f1f3af4890f2098af9ec5e115cb4e8da',
        '9cae1867df164430ce12313087e9aff1a4f59e26c7e5c8568412d65826215050',
        '4ecf2e944f29d398bfca560f36dc804b2a39058035a6d0903579dc534e6f343b',
        '66c1e1dff0957987df54db211e48084b1fcb1059e05fd4f086095f281dff5268',
        '65f8356afe34b57af3d75aeef10e64aae4f5a2f3d890b8ac05a0d6ed66dd3261',
        'd949e8b97141214ea2c07f91d56b5355baa3b3b45c26b2d4228c4f6e0037174c',
        'baf000bd6268de82b42c23b8c0ae3dfdf8680fddcf92b4d74f145b0373dfea67',
        'ede857a5856574b134e33fe909848d3496155d05c8174974e81a2dc75c926211',
        '2fa8640e18dc0f5295ce47f938e8ec28a99b5855a3b1056831355ee56d14d061',
        '443f7b3d7e19f92c1f3671552a2d814cf472fcfda4b48d0550c9f44a52fe94a6',
        '2251e4dbed89cb6007fb62c19392797322f5be363f1a88411c7a5c5130f116cf',
        '1df8601e368b7d7ec2fded037ac9859c8dea891b52d2afc00cf24e553024a92d',
    ],
    'binarize-tail-raw-d2-follow1-pct1-min25': [
        '711cf338c7f353c8550399c9a1ed1c87daf74e1e7159c81e76f9a845878af9a0',
        '85c8c85e24bbadb905940b42dc0ddc4770264f33c83302d40f4dbbeb891b43cc',
        'c87198cb2d70fd8cb10ff4b7553f57e473a1d2f7030ff843544238ec5ea0ae70',
        'edeaed83f169a91d6a62cef6e6f26bff814875a68840641c126c6537da6ac0b6',
        'a94500970cc36d8cbb53e1c318c634cb4914bb295c5adce5a0da566a02c9ecd1',
        '6a7a17ed9d224b0f465367fe77eea3a31c0b883e474a6d458c3d36d92f4056d5',
        '48ac548f5c61c19cc802033c6f859faf04f85a0d18fc43afefaec3b0658edc28',
        '79dfba4ba97fb098730e1d84351efff18638ed38bc0fa1c6d2d30b6b1b081ef5',
        '66163a3f82d01db4a00c41a63c77730b6fa90ab3643843ce0346a0c7846d5b0f',
        'c1410cd3424668969ccc4d43d016c38d533820fb564660bf8f3be8656678af5e',
        'f06dc88fc07f62a72e17f94915066e46ee7b1b8473b1d50bac04a7a4e90d8274',
        'f4dff33373c7365f95c2f7db3a110fe7d0e45e608b413887752a42120ec533c8',
        'd44640a433839217433874256ccdd84dc0a5ec5194235540d20dc3ca49542035',
    ],
    'binarize-majority-raw-d4-follow0-pct1-min25': [
        'c19a95c48b1a9b7fb8c1052b6eed2ae3b066e159b3dff5b3c472e6c54b4e01ab',
        'c55805fc4c9d9c551b76959bb6c2a5e4499420199023893a8a4a9d92145b0a92',
        'c52a8772e7004efe8e22ede00823bf5d272d0943fc78dab9f34cfcc0e2c68661',
        '8109dce99679b4d44e3d77a0a063e6f5317457d1ed8645d460d8d90d172ecbb2',
        '86f1e160ef3b2400f3d9afa4a1b4673056e89b421a3e904363353c5ad01a539f',
        '9de7490a1bd786a5596aa32f02736617f0668e0c395da62b1f955a1c901fe910',
        'd8af7eb9c23b2e0c6d8390648d8cc2b6ccc1c136e4b7e00c018d18ed06e1c39a',
        '194619c01571a4d7064c52d179b88850de1a40cb84d2482367e86bc937622d9b',
        '0277ad2d989a030abd6a9c7ecd71d48f412b7a505a331ca7612c874efabccb0b',
        'ac810199102d56c76da61c0726f56c7df4953aca5a1b4dae448571f366a3a674',
        'a8d50748c1893088786251fa4638b1c30743279495e1f0230048709f1baf0ab8',
        '74253867e3f70b31d64cc148eb32f1444a751ea7aa59e047718d4940ddd27c5e',
        'c8a5e918cfb07ce4445fd7cd7585f64606010224dabde9aead262a33cb1f0aa7',
    ],
    'binarize-majority-raw-d2-follow1-pct1-min25': [
        'c28cc0666d5e7b79fb1285c96db08993488b5df6e0a58016ca08feed58b5b79f',
        'f6adc05af5770fa2c8978e1df61981ea69c46cc22f608474bf66f9387a44b437',
        'b2849b7d5af90cdd5fcc2b54f77597be90d81ea0eea71175ffd2b92956094245',
        'a86422bf4b777b9b93e1cb0681885a6bd022a609b9f5da969c3b3b1a4939b838',
        'f3d110b94991331df02a92735db3e4f7cac0deeebf6ce3e300df1f4bc22e4bf5',
        '48c938069767006c688fe3ece1d583ca6b14b4fad6dde93d4cf4bbe563156542',
        'f6b822b0499db3dd682dbb7fac0bb13c27314d63a07cf131f4cbcf0ddf6e6a4b',
        '16a92e56d4ae62d598940c1d3cbe47e7b96372e15ccdbec70d1abcbdc66fc6c2',
        '707580fe4b7793db0f01cb4a80cd845c9e7386728177dd744a48450d637700a4',
        '07c76d6c50dd87a2139fb24a74fb254af3727066bc707a3d497d0d75bbdb4abe',
        '29a2fcb0cf0dfc48d9b9b4b6f0e60a05ef5f5c72dab39c3dc5c95b588406de73',
        'a07fe4f4dc463ba6d1a2c9a9cb84023e4a03b6e9a6136962f12737755444a1bb',
        '46e014e66eb871c3d6d6b69ebf75e9d71beaa7f6668f8819174a9e38fb5e4879',
    ],
    'bruteforce-tail-mid-d4-follow0-pct1-min25': [
        '8357a0f7f92a59daa13e09c6278afabf9b90ea4675e84cb2615fe6836c5517e8',
        '5f3af1d7e585e508ad580e4d7d80008490a2e7543b8989dd2da34edf28c4c5e3',
        '362b7d321db48b6c58829691fb4eea4cf80de729a154aa6a386288b42fabd5f0',
        'eee5a5936a9dd7bb48e1d35e4ce0c666af99d762d2f3c0a15b8eeb45588e3076',
        '2ff303a0640d0648a3f9b6e9d161957e0465e5b26cce0e40ff30a43a7bad4d60',
        '547cbe3d00033ef5fd43f6103f36b133560adb36a5b0fd970de39cb38ae34ebe',
        '09deec614b9d9fe9057897fc301b6243390b52217fafb87e877e508072d0229c',
        'ea271412fcc28bc05022bcf894b08d4911b6ccac9e88d85229b3628f9dd899d4',
        'b7d350d802841297acad024f135a128341ed61b1857f6925b1e66c951508a2c4',
        '35ea666639f859cb371e15f2262bf86d299a69d9a86e69fa32dbf99426297e10',
        'dc027a77a1cfbc77f0ae24a7b2e720ddf07f2a359c5aef754dcc8e612bb8d372',
        '6d36c31a71d3f7fe2caf34009e6d087ec22fdbb534a8940812855773bd1631e0',
        '0999550fcb1e10ca25217901059e107a6dcf261cd429cf11a6d25510356ffc70',
    ],
    'separate-tail-raw-d4-follow0-pct0-min15': [
        '5802d3163b03ca96d6400a12d1a14e3a5a1e79b594b9f6aeebda44b6375543aa',
        '6b3981b3fcfd05640e880359e277bba7689341e64158944d46dcebf9b6728a59',
        '2fd0a9b3785536a80e64c011a282ed46a6f8e78cc328a195b5d6b5a5f5789b54',
        'bbd46ab711ed2e6ccd54d967588d9dc3431b1a0a1d407dd8a548d07ae8e4e6cc',
        'ed62b03202654f1048d2bbaa1c4cec607cfc00c53b15a456a68bcc14ee41bac2',
        '6caca37bab5196493ab1adac174e771e159600cacbf7f8c61fb0ef80244174d0',
        'b6bc1c9e01f2bf91a4a389616eaee5d7e7ec01c45fbfcf259953a90971f3c89f',
        'be8b8ec776a4b4121f0cdc775cc0966baa17f435ef13294692a136e4bfcfa587',
        '51f47991da642913d8adf83fdcacac2f151b805aad85fc50a6d5876b5b78ac99',
        'e3a346d7940ae6a743d7b1a0b23bcf38e386559b8f220e423a0a9d469160d399',
        'a391fd46f16b745439e17ea749343f73dc4e3fd02d7dd6c2d50038cd8e1dcfed',
        '77b6288f8c85147e10e83b54ecf98327bb34ed72336caeddac9697ca0b2f9969',
        '228839883ad64adb717692f67c95f49dbc8e81fe8f1fe60e9fb4fcae3ebac616',
    ],
    'binarize-tail-raw-d4-follow0-pct0-min15': [
        '1a8c6942d6a34a5437e5c1d352711f1ccc991e1b91a5a5ddc5f196889fce1dea',
        '6666ce6c7930cd471ea7c26732e7f1f186bcfed936e73effd82365143140b831',
        '297cd203a0f6790778d99d2d6c9b41e48832c257ca53cf593a48d0ab6fd6e047',
        '05d31ca46fee2231f0fef3a2ee60a72eeca991bcbe3f6764ae13f476ef1b2a84',
        '181c6a6b4d775257206219a0db3998596020bf61ca53d1cce42828dbb12429b4',
        '04661c202f10ae4a83d034825c3e1612ccbf83aec7559382d20e3b5070019fd9',
        '4976881a33b98c9f8014f4880951a0e08c39db9b3b45e636f6d8bce634b73940',
        '6dadc910515936a2a5bb80282784b4e7d3e6b04e84e1e79a68cf88c108cff82f',
        '6a719dd4f3f98e0d8863f3c509dc9e07d23bc637d22d98be268af2f497836ba4',
        'f444c75a2abe28636c7ffaa017436881ba2b03325839adb32b022ed35c6b0f29',
        '13299a6b65df5eaa2983ddf2bd0ae0c24fa968c3d3d1e3986a1d34e775cf685b',
        '5f788fc638dd0405780d08e29a68c7d7e6564ebe5bc3ec3dc74935a68a22d53b',
        '1c428dc435abbec51916236b5651f34318f1a0cfa7a2fc4bfbdaf18904df651f',
    ],
    'binarize-majority-raw-d4-follow0-pct0-min15': [
        'c5687839a21ee9767cb4e43d095233d16fdb55ce59bee2d04dfdcb69cda04371',
        '8ef106e3b9008eba439d9d261f30369ded7cf098eac8073a6be77cbe52f0a54a',
        '7a78a6c7028affc6584a4e758a0610227bcb48392f027895e1582c5961fb220a',
        '92d9044f593b5657429f166a8a093eb312cd3b2c963cd797b7d30f7cbccba2da',
        'c36399185e4f442f77139cee4a11b6022424c31289ca06cccb5b8edb1a09d477',
        '3fe2e4c15609b62673c626537bcba7e30a2c537dbd494719ae55c7e17841e18f',
        'bb9feffebf9927d8193d35ef475033e91da808b3833293878af6c53d94473909',
        'a615dddf2287a257fa93843e177e838b6a293528eeebb0af41b5ebbb6f7e7b74',
        'b53d5789a3ad1522f62a9010ce381898ba9390e49f3c5fe32c515ae58b6d595f',
        '332bd6476c4171e7a44482f11d77df56a30869ef761aab4bd675ebc445d8101f',
        'a33b6b054d916f2aa22795a2a04b9bbf559b344b83165fe692c4ec5b059fcfb3',
        '72c84ddf48baaf69613b10804f72f40e0a24bbcf06199ec3a97f0d20a0c8c7f1',
        '925792a1b5e9db0684439b02bf756d837c4aa9cf657c4c423052a1d28dbf314d',
    ],
    'bruteforce-tail-raw-d4-follow0-pct0-min15': [
        '8e9f8f2151e40616cd4ffebed906abbd1a4920113c80f8f044757f20c0e3c3f8',
        '9724e131c3bffd04fc019a532712f5c025a6051c79c5d4c0a44021954a03e694',
        'ca8a0b962437e84382e067a73b3e3560b161f82e6a4f5bedfd4425255ec10ac3',
        '9f4b1843745cf2df91491b43abe9f51b44d724ccfcb1adc26e714cb37c237453',
        'efb42e9ad8b0b8d06e88368e04a06017f1b66006cf4a50bed0e1adf83034d24c',
        '0118636302c5c8377b64ea448c9e0f98448e5324542d6a2ea050f3bcd3896be1',
        '2d225aeb6adf3e59c469dd902945b176fd920b2a4f0bc09e17b482e8b1afeedd',
        '492b8cc153afc1693b70bc714505a65bdd658e4cc6aa12c849833e5a36f9c054',
        'f6f4d601121dea8a021234a5d59b5dc64b15d58c9b72ed3c106a64ca4bee182d',
        '01df487cfa8f3bb2180a0c67d68c804283a890e645794ba2cb6ad75578a51a0e',
        'b103d15ef885d76fc6aa8d4c67f4b6b7a1783c4816221b5714b6a42a0902e6a8',
        'b0f0272ac9aedf57f7cc6efe6669ba9b662339db0f81aa3e1ec80c77cab23e56',
        '0a5d816cd3ddf5d34d9d1d922ee3b9c17ef37736121dd0ed25387410c69c1b64',
    ],
    'bruteforce-majority-raw-d4-follow0-pct0-min15': [
        'bb86bbdd51604362aaee96bf19d5c2133af563ca92c68f4fc7d5b0494aeb8934',
        '67d90c706b1f7598f1542beccf72e46f1518c23803dea5b47538371bbff2db5c',
        '6907ede8c13ca9f19f4382e1fe563e09039e96fa3f74998d28a13e6ac9e8de6a',
        '3f7a51716b55dd615cf381e9ffe4fa18c2ee3d772e55675f4e84bd3bb1a666c2',
        'f61b2bda96537a73a3c36995d3862a1b8efa081e10a8db135cc09848b4195cf7',
        '5aab9572b844b0a5d06b7d80d07d5101ea60b0682c09a8620930820e5be93260',
        '54bc8351f9e44bb003abbe9f39f8a1effed5cd69f3d158430597c25820ed280d',
        'e57fd89ae71a8c8e6fa875f038689e589c43f44ccd38cfc79ed31d48ddf49377',
        '8234a6beb789255707064bbbeed5747159fe94016a7f366c7dc2ab5d531658e7',
        '97c9aa5b645e2adc2a3124d2fc2d0ee50b5ce5a9dd80d23e44750859f6007796',
        'fba48e3d1c7356aeb3f1716218b3ad01a60d282dccf692919a3cda30dde8d1c7',
        'e5acadd97ecbec5b62e94a9fe89655e78dc0af0738e1a6fd1f4d533c167af222',
        '36c1798ff67f4723ebb378336cdae801110c9df003dd8b4d40fe1b9172568ccc',
    ],
    'separate-majority-raw-d4-follow0-pct0-min15': [
        'e2263459f7dce07bcc31a96b6f129dff7b2417f967c58de2a16ef0f83f03eba5',
        '274a0007176060f4de897e9c9dcc9d0229402d14ae53d6fde0156ab08ec8d365',
        'c2099f78ef21e14a5ea78f0d68d7513bd79fe4708b3d83d5eded5bbee42fcf0c',
        'abccd495c06951fa39c4242c84f289cf32afed3f1a441a095143b267278ebcf3',
        '14afbfab54d465fc7d4836dcdd6e7ae9145c54b7f6523e1656688d832344f9e4',
        '120338461701013c0a2a577f50d4e1e8e615a722f3f14a7ae3d8b97f7d35cd1a',
        '7cc60da1704f6d28437bfd05d2fc14057ab2d775ddd0d037971f9f15dc7587de',
        'e13feb18e58c79cbc39e8b6a8bdb112c757bca39e46fe977a59f881c02f44c36',
        '5f9d2ae8a43ed80a1f9c2f37d433334886acaf07112dbbb54bcb311faa47726c',
        '775d37a8b0d34a1798bfaea17a53d044a091cb9ddccf9246ef898f761ee6f588',
        'fa594e699b177192ce466c77cb146dea4e98c09e762ba567880d7332e58953bc',
        '51a84e8ababf5dcb443480319041364f51b594102ac4f4d02ef6713f5905dd7e',
        '47b745e2def902f2822f0b0e6c2dd7165b38fa10e1729b862f684ff8008ee3b2',
    ],
    'binarize-tail-raw-d2-follow1-pct0-min15': [
        '547216a6f33b2d595e8c812bf64ca125f28b09e68ee47255094ad31c22b7002e',
        '721fc8ba96a18f33c2a204748d997f92f6fad8247cdd052b95e81fbd4d32e772',
        '7da3643aab870cb53cdc65214e9d3ebc76cec3ea9366b61625f1e93020f4ee36',
        '95dedfa4039849ad3f15942ef880d0d7edb02d2e4d0e79bef038a2f81eee1268',
        '437ec1090d6a17b35340a7d728abb096723fe1635e972e45df1af867d392c9b4',
        '3d537691e201e406d65c24e25f5b4a5e9f5334d8521bb062e541709f4bde9416',
        '55bdc0f1c8a85990efc1d1c8e4d0e03e100caf0128c085fd68adad037f09a7a6',
        'ea871f3ecc954f5ab579976d6059e3a8d098ba3277968de833cf2513a7ba3523',
        '6d4a2e6bb35f9777314a1ce7dd6e3ba41b659b307a224cbda7a43d01d43b9577',
        '5c901d6e65adf3d75b086ef957290acdc1cb5d4ebcb3d60c20a61bf197aecee8',
        'fcefd54af9d2b13d833771176c86c380a24f73f521a718c0c7007d67bdde1bce',
        'c31815cb5023e30d8b7967c02fb47ad90fbc1ad153878eb82b3b86a4a7e7d5cf',
        '6d5946f8bd2d55ceb6158179c735606bbb2737a7feba64fe84ed2909c5ba1d62',
    ],
    'binarize-majority-raw-d2-follow1-pct0-min15': [
        '0ddf4793f0f12c14ac1d15aa79a905136b8300fb6230053947f97b3de0b8a3f2',
        'efaacc58a922a20313b022fee1113b613d563f0a52fa8987b80e8e4e51beba08',
        'b741b3aa56e7c1c54edd2f6700bbe8dfdc268f27f024aa4de05a47d39a1ce8dc',
        'd11a2da1479bfa14e584020b4f475f3977eb2a777e4dd11df6ebde5f77cc3f6d',
        '16f75a1c33d1f537df43b23561c53e19628dc218a0380f49c7c735f8ad23aec4',
        '76c90d6718d1aa2084db1098e4130dfea1e9beb00a43708051e696446e4b3901',
        'aa62b2c89b508cddf268885cf7958508d726a2ab020d7f089388d987f1e5b367',
        'c569513db21549513926b155b108cce8ea23af45fd68f1dfe43ac2790c71fe29',
        '27e6f5a33192319f854005c0520b87491f500e3de8ced1e44bc252387c7378e9',
        '72dfeaf2f2db0c406dc0571ba3640562ecc5bc3de8db5acbffd1643d4bfcb4da',
        'bb3032497ef6d77caccb49f44288a90b502bddb4de1d37feadf6d4650da9afe3',
        'f7ea7408d653dffad3d3f194f98d2d38f09c5b6316ec004e0ffea1609013065d',
        '5ddd20c938ef78ed377287ec82e2179b3f20129ae19797e9a6c5d8c86170f484',
    ],
    'bruteforce-tail-raw-d2-follow1-pct0-min15': [
        '8d33580995a18fd8af8c2255e87f10ae2a462f0b710351e9d9e5de431ad5a27d',
        'f9b0e2269d33deddc4fc26e46f7a608fed7f6a89aeeb754f4a2437cabe50a069',
        '3faacf8261efa204af2c12926668f20df69a7443f4f3c07725e3547a262aa78c',
        'c6a92e788add6530de34b1a339e44e18de85da48903faf20d21774659180974f',
        '01fab8cfdc57f046c167c1851a01fb7dc9511ea1a7817872c42798c367da5a95',
        '4c2b633b58b5dbdcb082f9ff1c31fe3d9e5637384bfa45c1fb72db1bdd2177f9',
        '6df294f9be92a201acae9fb841a3ef612fe52a478186d17ca486d3b29260969e',
        '4baff4ffba24269efaeaee84d9d6a8afbda835430a684931b9ae965875e7800d',
        '67481d8625005f5f9762591ac22f8898a89a48876702437ee32ec63e3dd10932',
        '7c1b563023d43a9988455637ff9cfc3ebfa5e0f8d2621daeaf70010c69964d74',
        '44c3014a61e7cbe7bb74bb22ee1e19a926cf38812624e55bca3cb27e265c7b2e',
        '498346e738d89e6c95773c9d189c66b7f848c53a57be20d6b6cf1c4ef6838091',
        '5be92c7187bc0bc7753fee688d365b3865a23bb80ff96314e90c1ae4716d082b',
    ],
    'bruteforce-majority-raw-d2-follow1-pct0-min15': [
        '1ab1c83228b1df74d8ff81e149db076a351fecced67c9c6efc80f3f682a22201',
        '9e7226e87e39fad9f766d967bec03b2b5ee1662416302ec665d662df51e80599',
        'c0f71ba044a39629aa3fd165a68b04e651d7b42e630627e37dce8874f28ea58e',
        'be56a611457099d0631da568e1140116f07844d1206d58f358e28a19b45fa86e',
        '871c3fd5a442a21cf3996708adac58f2e7a1d05a76e167ee9c3289daa9dd269c',
        'f6e85919fd017caeda8a88bd357487d647f3a173fd7ee75755567bc66c410105',
        '508525919d4eab85853cdac446c9ec36422c24f96a76ccae3688d5db9a32cd26',
        'a8efa540b9a0d235da8ba83088d09666d31ea6b8c63e01754526fa2f464c9bac',
        '90139ad094c031aba1d4478c3f614feaf08418b0d2ba0cb672eddcb690de8995',
        '314d2599bedf1c2c5f68b6572fe61bc43a44f338785a872cd908b764ee53d6e9',
        'd1901a11665ac8ba4a76cd188eaae567fcf264add113595fb96721daa5fb91d6',
        '192fbacefb88666fc39ed90fc7e41c9a35a3f9f07200496fa07122431a523a5f',
        'e53c4018600b5324985def19edf7b1b2d617bcd286fa7ee0bae2b2236d41f472',
    ],
    'separate-tail-raw-d2-follow1-pct0-min15': [
        '56bdb703ec0c4814cd06a1afe9927689b74e21f73c9101bcc266ef1df6e59c81',
        'ee222d0c5b2c1fac01b9626c3a7e2c5c1ed9dee4d38bb7d2ca00d901cbc14900',
        'd73f02f475890d481be7be08293e04c004bb951d8ff598c6c4b27bdaf0e07f20',
        '00d2431e6aff46e58ff0f9e3320011e07d311d558827e72c89d5f30bbf9bf986',
        'cf4e98ee4e92c546a67dd72464377ba4daeaf7c0ce1acef02ada10752fd86fc3',
        '9c9f7a4a824d58ded2a8a5dfbef320c112ca19eebc5978f04bbe72a3391980b1',
        '1510a90c9c03df7ec6cad5d92f2a1943245e9e067631a27fd74eff92c7e03cd7',
        '0896cf623ffbb301074156fe1f6339e25cc03a1936b2fad7738a2c311b63f79c',
        '3670c385c824e4fc6b4d8808eaa1f4321cf8b0f9117d3921fcf5d6559ccb0877',
        'dc52f4104d9e35b66658f30d8eee97bcc92dc00a0c9f75872a9d7d713470c0cd',
        '1222073e85a4c2f2cc33199757707899ae403840d09fcac791348822eaf57ac7',
        '59ffdf79c83d597558fb7ebfbede6a5d7510cb9224aa856e83499e998ea54043',
        '84c2cfa99e69e14692e259eef78a6a5026c8d758ee5091f00010a8bbdc6a10d5',
    ],
    'separate-majority-raw-d2-follow1-pct0-min15': [
        '52de68fa81d7ada0ae8d4d33492c33ae06b3be7016403d2ec369aade0a82b1a8',
        '171839499955e3acfe5f7dbeb48e63d8c692c71ede7563fc350f559032f24b77',
        'aeb819a6bf06f99363f63ac745042e5df2df6b6e01046866ec58980d4239954c',
        '6fa33d8c6c7618604f2f11e5c5cd8b40bdd4cc1fddd92359e2000474db1e7d63',
        '9b7dd58a45f8fd4f8d66304234fa188daf4b51fbca417cad479feebe540323da',
        'aee273fa1c031a6f57b76c245e6755ee003b35a9ee09b23512cd757eeb3da291',
        '4c6d57fc88cec3bbbfbb92ca3fdbefce7ce023572b65f04f12c9eaf726964480',
        'a9df25351a482e333d3193f71f7f210bff437ee1f5b5fbe0583b337438d2af1c',
        'bb61f129f63f21cb2376aa80ce1f75d7996f073c320912f49c1a97aa5a8af21d',
        '2f2f94b3192957a8f6989527b609749eb5a56af7e376c00fbe2ab606a2edd099',
        'ae081ec0eec16f62ab2057c89085f102780524863bcd2c91fbbc40616d2af5ef',
        'f0945ef5fc0188e2ebf8aefb048b1eb3cfcb5536fc29eb2808c0b01f21b53321',
        'a431c4239b081e7dedd5721e581ef9dc01348c1312f038871de66442eebaf2dd',
    ],
}

SMALL_NODE_GOLDEN = {
    'binarize-majority-raw-d4-follow0-pct1-min10':
        '235ac3350e171f8ea46c4402b9ed8a02784775ed4a7e4227ea8227d37b223a89',
    'bruteforce-majority-raw-d4-follow0-pct1-min10':
        'ea9a4a3a6fb255ef8ca2f0c6fb83bddc6bbfdc7062528dfd8347b2156bc5f8d0',
    'separate-majority-raw-d4-follow0-pct1-min10':
        'e832991d7af5bd147270d2882af001ca3978e385bed5f1b78ecbcd5244efb54b',
    'binarize-majority-raw-d3-follow1-pct1-min10':
        'a84f7d42b9a4cc2007fc4c25d7e4b3212f90c3bbbff06d9b52ea82a2d7dbb4e3',
    'bruteforce-majority-raw-d3-follow1-pct1-min10':
        'ee658075b54abd1624b693510b75ca563a1f31db5b3c23f314db7c928e4f0e78',
    'separate-majority-raw-d3-follow1-pct1-min10':
        'b19898021014d4eee63958c03448dc72f36be0b3c46772ddba9839087f3d1ee1',
}


@pytest.mark.skipif(not _HOST, reason="digests recorded on x86-64 Linux "
                    "with 80-bit longdouble")
@pytest.mark.parametrize("cfg", GOLDEN_CONFIGS, ids=_config_id)
def test_fit_matches_golden_digests(cfg):
    got = _digests(cfg)
    want = GOLDEN[_config_id(cfg)]
    bad = [i for i, (g, w) in enumerate(zip(got, want)) if g != w]
    assert not bad, f"tables {bad} changed: {[got[i] for i in bad]}"


def test_golden_covers_every_config():
    assert list(GOLDEN) == [_config_id(c) for c in GOLDEN_CONFIGS]
    assert list(SMALL_NODE_GOLDEN) == [_config_id(c) for c in SMALL_NODE_CONFIGS]


@pytest.mark.skipif(not _HOST, reason="digests recorded on x86-64 Linux "
                    "with 80-bit longdouble")
@pytest.mark.parametrize("cfg", SMALL_NODE_CONFIGS, ids=_config_id)
def test_small_node_categorical_splits_match_golden(cfg):
    model = fit_arrays(_small_node_table(), cfg)
    split = {c["name"] for c in model["columns"]
             if any(cl["split_type"] != "root" for cl in c["clusters"])}
    assert {"x", "y"} <= split
    assert _digest(model) == SMALL_NODE_GOLDEN[_config_id(cfg)]


if __name__ == "__main__":
    print("GOLDEN = {")
    for cfg in GOLDEN_CONFIGS:
        print(f"    {_config_id(cfg)!r}: [")
        for d in _digests(cfg):
            print(f"        {d!r},")
        print("    ],")
    print("}")
    print("SMALL_NODE_GOLDEN = {")
    for cfg in SMALL_NODE_CONFIGS:
        d = _digest(fit_arrays(_small_node_table(), cfg))
        print(f"    {_config_id(cfg)!r}:\n        {d!r},")
    print("}")
