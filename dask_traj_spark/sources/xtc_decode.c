/* XTC compressed-coordinate decoder: the integer loop of one frame.
 *
 * A line-for-line port of _decode_payload_py in xtc.py, which stays
 * the reference the tests compare this against and the fallback when
 * no compiler is present. xtc_native.py compiles this file with
 * `gcc -O2 -shared -fPIC` on first use and calls it through ctypes;
 * the header fields it takes have already been validated there.
 *
 * The payload is untrusted input: every byte read is checked against
 * nbytes, and the size-class index is checked each time it moves.
 * The big integers of a whole-range triple (at most 72 bits, since
 * each size is at most 0xFFFFFF) and of a small-delta triple
 * (smallidx <= 72 bits) fit an unsigned __int128.
 */

#include <stdint.h>

typedef unsigned __int128 u128;

#define FIRSTIDX 9
#define NMAGIC 73

/* returned in place of an atom count */
#define XTC_OVERRUN (-1) /* a read past the payload's nbytes */
#define XTC_DRIFT (-2)   /* smallidx left [FIRSTIDX, NMAGIC); in *info */

static const int64_t MAGICINTS[NMAGIC] = {
    0, 0, 0, 0, 0, 0, 0, 0, 0,
    8, 10, 12, 16, 20, 25, 32, 40, 50, 64, 80, 101, 128, 161, 203, 256,
    322, 406, 512, 645, 812, 1024, 1290, 1625, 2048, 2580, 3250, 4096,
    5060, 6501, 8192, 10321, 13003, 16384, 20642, 26007, 32768, 41285,
    52015, 65536, 82570, 104031, 131072, 165140, 208063, 262144, 330280,
    416127, 524287, 660561, 832255, 1048576, 1321122, 1664510, 2097152,
    2642245, 3329021, 4194304, 5284491, 6658042, 8388608, 10568983,
    13316085, 16777216,
};

/* the big-endian bit feeder: lastbits is always in [0, 8) between reads */
typedef struct {
    const unsigned char *buf;
    int64_t nbytes;
    int64_t cnt;
    uint32_t lastbyte;
    int lastbits;
} reader;

static inline int feed(reader *r)
{
    if (r->cnt >= r->nbytes)
        return -1;
    r->lastbyte = (r->lastbyte << 8) | r->buf[r->cnt++];
    return 0;
}

/* nb (1..8) bits, most significant first */
static inline int small_bits(reader *r, int nb, uint32_t *out)
{
    if (r->lastbits < nb) {
        r->lastbits += 8;
        if (feed(r))
            return -1;
    }
    r->lastbits -= nb;
    *out = (r->lastbyte >> r->lastbits) & ((1u << nb) - 1);
    return 0;
}

/* an nb-bit unsigned int (nb <= 33) read as one big-endian field */
static inline int field(reader *r, int nb, uint64_t *out)
{
    uint64_t num = 0;
    uint32_t tail;
    while (nb >= 8) {
        if (feed(r))
            return -1;
        num |= (uint64_t)((r->lastbyte >> r->lastbits) & 0xFF) << (nb - 8);
        nb -= 8;
    }
    if (nb > 0) {
        if (small_bits(r, nb, &tail))
            return -1;
        num |= tail;
    }
    *out = num;
    return 0;
}

/* an nb-bit packed int (nb <= 72) in 8-bit chunks, least significant
 * chunk first (receiveints' byte order) */
static inline int packed(reader *r, int nb, u128 *out)
{
    u128 big = 0;
    int shift = 0;
    uint32_t tail;
    while (nb > 8) {
        if (feed(r))
            return -1;
        big |= (u128)((r->lastbyte >> r->lastbits) & 0xFF) << shift;
        shift += 8;
        nb -= 8;
    }
    if (nb > 0) {
        if (small_bits(r, nb, &tail))
            return -1;
        big |= (u128)tail << shift;
    }
    *out = big;
    return 0;
}

/* split a packed int over sizes (s0, s1, s2) into n0, n1, n2 */
static inline void unpack3(u128 big, uint64_t s1, uint64_t s2, int64_t n[3])
{
    if (!(big >> 64)) {
        uint64_t b = (uint64_t)big;
        n[2] = (int64_t)(b % s2);
        b /= s2;
        n[1] = (int64_t)(b % s1);
        n[0] = (int64_t)(b / s1);
        return;
    }
    n[2] = (int64_t)(big % s2);
    big /= s2;
    n[1] = (int64_t)(big % s1);
    n[0] = (int64_t)(big / s1);
}

/* Decode atoms 0..stop-1 (a run may go past stop) of a payload of
 * nbytes bytes and write the int triples of emitted atoms lo..stop-1
 * to out[3 * (stop - lo)]. bitsize == 0 selects the per-axis
 * bitsizeint fields. Returns the number of atoms decoded, or
 * XTC_OVERRUN, or XTC_DRIFT with the drifted index in *info. */
int64_t xtc_decode_ints(const unsigned char *buf, int64_t nbytes,
                        int64_t lo, int64_t stop,
                        const int64_t *minint, const int64_t *sizeint,
                        int bitsize, const int64_t *bitsizeint,
                        int smallidx, int64_t *out, int64_t *info)
{
    reader r = {buf, nbytes, 0, 0, 0};
    int64_t smaller = MAGICINTS[smallidx - 1 > FIRSTIDX ? smallidx - 1 : FIRSTIDX] / 2;
    int64_t small = MAGICINTS[smallidx] / 2;
    int64_t ssmall = MAGICINTS[smallidx];
    int64_t i = 0, e = 0; /* atoms decoded, atoms emitted */
    int run = 0;
    int64_t p[3], d[3];

#define EMIT(v)                                   \
    do {                                          \
        if (e >= lo && e < stop) {                \
            int64_t *o_ = out + 3 * (e - lo);     \
            o_[0] = (v)[0];                       \
            o_[1] = (v)[1];                       \
            o_[2] = (v)[2];                       \
        }                                         \
        e++;                                      \
    } while (0)

    while (i < stop) {
        /* whole-range triple */
        if (bitsize == 0) {
            for (int k = 0; k < 3; k++) {
                uint64_t num;
                if (field(&r, (int)bitsizeint[k], &num))
                    return XTC_OVERRUN;
                p[k] = (int64_t)num;
            }
        } else {
            u128 big;
            if (packed(&r, bitsize, &big))
                return XTC_OVERRUN;
            unpack3(big, (uint64_t)sizeint[1], (uint64_t)sizeint[2], p);
        }
        i++;
        for (int k = 0; k < 3; k++)
            p[k] += minint[k];

        /* run flag (1 bit) + optional 5-bit run header */
        uint32_t flag, hdr;
        int is_smaller = 0;
        if (small_bits(&r, 1, &flag))
            return XTC_OVERRUN;
        if (flag) {
            if (small_bits(&r, 5, &hdr))
                return XTC_OVERRUN;
            run = (int)hdr;
            is_smaller = run % 3;
            run -= is_smaller;
            is_smaller -= 1;
        }
        if (run > 0) {
            for (int k = 0; k < run; k += 3) {
                /* small-delta triple: smallidx bits, sizes (s, s, s) */
                u128 big;
                if (packed(&r, smallidx, &big))
                    return XTC_OVERRUN;
                unpack3(big, (uint64_t)ssmall, (uint64_t)ssmall, d);
                i++;
                for (int c = 0; c < 3; c++)
                    d[c] += p[c] - small;
                /* water interchange: the first small atom is emitted
                 * before the whole-range atom */
                EMIT(d);
                if (k == 0)
                    EMIT(p);
                /* deltas chain off the last decoded small atom */
                p[0] = d[0];
                p[1] = d[1];
                p[2] = d[2];
            }
        } else {
            EMIT(p);
        }

        smallidx += is_smaller;
        if (smallidx < FIRSTIDX || smallidx >= NMAGIC) {
            *info = smallidx;
            return XTC_DRIFT;
        }
        if (is_smaller < 0) {
            small = smaller;
            smaller = smallidx > FIRSTIDX ? MAGICINTS[smallidx - 1] / 2 : 0;
        } else if (is_smaller > 0) {
            smaller = small;
            small = MAGICINTS[smallidx] / 2;
        }
        ssmall = MAGICINTS[smallidx];
    }
#undef EMIT
    return i;
}
